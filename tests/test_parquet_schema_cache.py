"""Schema cache of ``util.read_parquet`` (the path behind
``StreamContext.stream_parquet``, ``compact_parquet`` and the index
``*_load`` meta reads): a repeat read of unchanged files runs no
footer-inference job; changed files, a flipped type-mapping conf or a
remote scheme all fall back to a fresh inference."""

import os
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from renoir_spark import util


@pytest.fixture(autouse=True)
def empty_cache():
    util._schema_cache.clear()
    yield
    util._schema_cache.clear()


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class _StubSession:
    """Just enough of a SparkSession for ``read_parquet``: inference
    yields ``schema:<path>`` and is logged; an explicit schema is
    passed through. No JVM, no filesystem access."""

    class _Df:
        def __init__(self, schema):
            self.schema = schema

    class _Reader:
        def __init__(self):
            self.inferred = []
            self._schema = None

        def schema(self, schema):
            given = _StubSession._Reader()
            given._schema = schema
            return given

        def parquet(self, *paths):
            if self._schema is not None:
                return _StubSession._Df(self._schema)
            self.inferred.append(",".join(paths))
            return _StubSession._Df("schema:" + ",".join(paths))

    class _Conf:
        def get(self, key, default=None):
            return default

    def __init__(self):
        self.read = self._Reader()
        self.conf = self._Conf()


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_repeat_read_launches_no_job(ctx, spark, tmp_path):
    path = str(tmp_path / "t")
    _write(path, pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}))
    tag = f"schema-cache-{time.time_ns()}"
    first, n_miss = _jobs_in_group(
        spark, tag + "-miss", lambda: ctx.stream_parquet(path).df)
    second, n_hit = _jobs_in_group(
        spark, tag + "-hit", lambda: ctx.stream_parquet(path).df)
    assert n_miss >= 1  # the footer-inference job is visible to the count
    assert n_hit == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == sorted(
        map(tuple, first.collect()))
    assert len(util._schema_cache) == 1


def test_overwrite_with_new_schema_is_reinferred(ctx, spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "x")], "a long, b string") \
        .write.mode("overwrite").parquet(path)
    assert ctx.stream_parquet(path).df.columns == ["a", "b"]
    spark.createDataFrame([(1.5,)], "c double") \
        .write.mode("overwrite").parquet(path)
    df = ctx.stream_parquet(path).df
    assert df.dtypes == [("c", "double")]
    assert [tuple(r) for r in df.collect()] == [(1.5,)]


def test_same_name_rewrite_is_reinferred(spark, tmp_path):
    # a writer that reuses the file name: size/mtime carry the change
    path = str(tmp_path / "t")
    _write(path, pa.table({"a": [1]}))
    assert util.read_parquet(spark, path).columns == ["a"]
    _write(path, pa.table({"a": [1], "extra": ["wide enough"]}))
    assert util.read_parquet(spark, path).columns == ["a", "extra"]


def test_type_mapping_conf_flip_is_reinferred(spark, tmp_path):
    ns = str(tmp_path / "ns")
    _write(ns, pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "true")
        assert util.read_parquet(spark, ns).dtypes == [("ts", "bigint")]
        # this Spark rejects TIMESTAMP(NANOS) without the legacy flag: a
        # cached bigint schema served here would hide that
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            util.read_parquet(spark, ns)
        spark.conf.set(key, "true")
        _, n = _jobs_in_group(spark, f"nanos-{time.time_ns()}",
                              lambda: util.read_parquet(spark, ns))
        assert n == 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    raw = str(tmp_path / "bin")
    _write(raw, pa.table({"v": pa.array([b"ab"], pa.binary())}))
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert util.read_parquet(spark, raw).dtypes == [("v", "binary")]
        spark.conf.set(key, "true")
        assert util.read_parquet(spark, raw).dtypes == [("v", "string")]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_remote_schemes_are_never_cached(tmp_path):
    for p in ("hdfs://namenode:8020/data/t", "s3a://bucket/data/t",
              "file://otherhost/data/t"):
        assert util._local_fingerprint(p) is None
    assert util._local_fingerprint(str(tmp_path / "missing")) is None
    assert util._local_fingerprint(str(tmp_path / "*.parquet")) is None

    # the ordinary miss path: a plain read, nothing stored (a stand-in
    # session, so no remote filesystem is ever contacted)
    s = _StubSession()
    for _ in range(2):
        assert util.read_parquet(s, "s3a://bucket/t").schema == \
            "schema:s3a://bucket/t"
    assert s.read.inferred == ["s3a://bucket/t", "s3a://bucket/t"]
    assert len(util._schema_cache) == 0


def test_file_scheme_shares_the_local_entry(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(path, pa.table({"a": [1]}))
    util.read_parquet(spark, path)
    _, n = _jobs_in_group(spark, f"file-{time.time_ns()}",
                          lambda: util.read_parquet(spark, "file:" + path))
    assert n == 0


def test_empty_directory_raises_and_stores_nothing(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for _ in range(2):
        with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
            util.read_parquet(spark, str(empty))
    assert len(util._schema_cache) == 0


def test_lru_evicts_past_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(util, "_SCHEMA_CACHE_MAX", 2)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"t{i}")
        _write(p, pa.table({f"c{i}": [i]}))
        paths.append(p)
    util.read_parquet(spark, paths[0])
    util.read_parquet(spark, paths[1])
    util.read_parquet(spark, paths[0])  # refresh: t1 is now the oldest
    util.read_parquet(spark, paths[2])
    cached = {k[1][0][0] for k in util._schema_cache}
    assert cached == {paths[0], paths[2]}
    _, n = _jobs_in_group(spark, f"lru-{time.time_ns()}",
                          lambda: util.read_parquet(spark, paths[1]))
    assert n >= 1  # evicted: inferred again


def test_concurrent_reads_keep_cache_consistent(tmp_path, monkeypatch):
    # run_concurrent threads read in parallel: under a short switch
    # interval, every hit must return its own path's schema and the LRU
    # must never outgrow its cap
    monkeypatch.setattr(util, "_SCHEMA_CACHE_MAX", 4)
    paths = []
    for i in range(8):
        p = tmp_path / f"t{i}"
        p.mkdir()
        (p / "part-0.parquet").write_bytes(b"x" * (i + 1))
        paths.append("file:" + str(p))
    s = _StubSession()
    errors = []

    def reader(k):
        try:
            for j in range(200):
                p = paths[(k + j) % len(paths)]
                got = util.read_parquet(s, p).schema
                if got != "schema:" + p:
                    errors.append((p, got))
                if len(util._schema_cache) > util._SCHEMA_CACHE_MAX:
                    errors.append(("size", len(util._schema_cache)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,))
                   for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(util._schema_cache) <= 4
