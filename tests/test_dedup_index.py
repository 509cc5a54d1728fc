"""Persisted MinHash-LSH dedup index (renoir_spark/dedup_index.py):
build → load → dedup_batch / match_batch / append, plus the
partition-pruning plan contract that makes small increments cheap
against a large index. Bit-exact result parity vs DuckDB is covered by
tests/test_oracle.py (qa07, qa08); these are the behavioral edges."""

import pytest
from pyspark.sql import functions as F


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(ctx, spark, rows):
    return ctx.from_df(
        spark.createDataFrame(rows, "doc_id long, text string")
    )


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "spark plans shuffle exchanges between stages for wide ops"),
    (3, "completely unrelated content about cooking pasta al dente"),
]
# 10 = near-copy of 1, 11 = fresh, 12 = near-copy of 2
BATCH = [
    (10, "the quick brown fox jumps over the lazy dog again and again!"),
    (11, "entirely novel document with its own words and phrasing here"),
    (12, "spark plans shuffle exchanges between stages for wide ops"),
]


@pytest.fixture(scope="module")
def idx_path(ctx, spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("didx") / "index")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    return path


def test_dedup_batch_drops_near_dups_keeps_fresh(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH), threshold=0.7)
    assert sorted(r.doc_id for r in surv.df.collect()) == [11]


def test_match_batch_pairs(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    pairs = idx.match_batch(_docs(ctx, spark, BATCH), threshold=0.7).df
    got = {(r.batch_id, r.corpus_id) for r in pairs.collect()}
    assert got == {(10, 1), (12, 2)}
    exact = next(r for r in pairs.collect() if r.batch_id == 12)
    assert exact.jac == 1.0


def test_cold_load_meta(ctx, idx_path):
    idx = ctx.dedup_index(idx_path)
    m = idx.meta
    assert m["id_col"] == "doc_id" and m["text_col"] == "text"
    assert m["num_hashes"] == 12 and m["bands"] == 4
    assert m["bucket_dirs"] == 8 and m["id_type"] == "bigint"


def test_empty_batch(ctx, spark, idx_path):
    idx = ctx.dedup_index(idx_path)
    empty = _docs(ctx, spark, CORPUS).filter("doc_id < 0")
    assert idx.match_batch(empty).df.count() == 0
    assert idx.dedup_batch(empty).df.count() == 0


def test_empty_corpus_index_keeps_all(ctx, spark, tmp_path):
    path = str(tmp_path / "emptyidx")
    _docs(ctx, spark, CORPUS).filter("doc_id < 0").dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    idx = ctx.dedup_index(path)
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [10, 11, 12]


def test_append_makes_increment_visible(ctx, spark, tmp_path):
    path = str(tmp_path / "incidx")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8
    )
    idx = ctx.dedup_index(path)
    batch = _docs(ctx, spark, BATCH)
    surv = idx.dedup_batch(batch, threshold=0.7)
    idx.append(surv)
    # the same batch re-deduped now hits its own appended survivor too
    surv2 = idx.dedup_batch(batch, threshold=0.7)
    assert surv2.df.count() == 0
    # and a copy of the appended doc 11 is caught (exact copy — this
    # pins append visibility, not LSH recall, which band count dials)
    redo = _docs(ctx, spark, [
        (20, "entirely novel document with its own words and phrasing here"),
    ])
    assert idx.dedup_batch(redo, threshold=0.7).df.count() == 0


def test_rebuild_is_idempotent(ctx, spark, tmp_path):
    path = str(tmp_path / "rebuild")
    corpus = _docs(ctx, spark, CORPUS)
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=8)
    ctx.dedup_index(path).append(_docs(ctx, spark, BATCH))
    # rebuild resets the data roots — the appended batch must be gone
    corpus.dedup_index_build(path, text_col="text", id_col="doc_id",
                             bucket_dirs=8)
    surv = ctx.dedup_index(path).dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [11]


def test_posting_scan_partition_pruned(ctx, spark, idx_path):
    """The index read under a batch probe must carry the batch's __bk
    set as a PartitionFilter — directory-level pruning, not a row
    filter over every posting file."""
    idx = ctx.dedup_index(idx_path)
    plan = _executed(
        idx.match_batch(_docs(ctx, spark, BATCH[:1]), threshold=0.7).df
    )
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "/buckets" in l]
    assert scans, plan
    for s in scans:
        assert "PartitionFilters" in s
        assert "__bk" in s.split("PartitionFilters")[1].split("]")[0]


def test_string_ids(ctx, spark, tmp_path):
    """id dtype flows from the corpus through meta to every read schema
    (the ANN-index string-id lesson, applied here by construction)."""
    path = str(tmp_path / "strid")
    rows = [(f"doc-{i}", t) for i, t in CORPUS]
    s = ctx.from_df(spark.createDataFrame(rows, "doc_id string, text string"))
    s.dedup_index_build(path, text_col="text", id_col="doc_id",
                        bucket_dirs=8)
    idx = ctx.dedup_index(path)
    assert idx.meta["id_type"] == "string"
    brows = [(f"b-{i}", t) for i, t in BATCH]
    b = ctx.from_df(spark.createDataFrame(brows, "doc_id string, text string"))
    surv = idx.dedup_batch(b, threshold=0.7)
    assert sorted(r.doc_id for r in surv.df.collect()) == ["b-11"]


# ------------------------------------------------------------------ #
# exact mode
# ------------------------------------------------------------------ #

def test_exact_mode_roundtrip(ctx, spark, tmp_path):
    path = str(tmp_path / "exidx")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    assert idx.meta["mode"] == "exact"
    assert type(idx).__name__ == "ExactDedupIndex"
    # 12 is an exact copy of corpus doc 2; 10 is only a NEAR copy of 1
    surv = idx.dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in surv.df.collect()) == [10, 11]
    pairs = idx.match_batch(_docs(ctx, spark, BATCH)).df.collect()
    assert [(r.batch_id, r.corpus_id, r.jac) for r in pairs] == [(12, 2, 1.0)]
    # append survivors: an exact copy of appended doc 10 is now caught
    idx.append(surv)
    redo = _docs(ctx, spark, [(20, BATCH[0][1])])
    assert idx.dedup_batch(redo).df.count() == 0


def test_exact_mode_null_text_survives(ctx, spark, tmp_path):
    path = str(tmp_path / "exnull")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    b = ctx.from_df(spark.createDataFrame(
        [(30, None)], "doc_id long, text string"))
    assert [r.doc_id for r in idx.dedup_batch(b).df.collect()] == [30]
    assert idx.match_batch(b).df.count() == 0


def test_exact_mode_key_scan_partition_pruned(ctx, spark, tmp_path):
    path = str(tmp_path / "exprune")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=8,
        mode="exact")
    idx = ctx.dedup_index(path)
    plan = _executed(
        idx.match_batch(_docs(ctx, spark, BATCH[:1])).df
    )
    # (path substrings are truncated in plan strings — match the scan
    # by its partition filter, the only parquet scan in this plan)
    scans = [l for l in plan.splitlines()
             if "FileScan" in l and "PartitionFilters" in l]
    assert scans, plan
    for s in scans:
        assert "__bk" in s.split("PartitionFilters")[1].split("]")[0]


def test_unknown_mode_rejected(ctx, spark, tmp_path):
    with pytest.raises(ValueError):
        _docs(ctx, spark, CORPUS).dedup_index_build(
            str(tmp_path / "bad"), text_col="text", id_col="doc_id",
            mode="fuzzy")


# ------------------------------------------------------------------ #
# compaction
# ------------------------------------------------------------------ #

def _parquet_files(root):
    import glob

    return glob.glob(f"{root}/**/*.parquet", recursive=True)


@pytest.mark.parametrize("mode", ["minhash", "exact"])
def test_compact_shrinks_files_preserves_results(ctx, spark, tmp_path,
                                                 mode):
    path = str(tmp_path / f"cidx_{mode}")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=4, mode=mode)
    idx = ctx.dedup_index(path)
    # several appends accumulate one file per touched dir per append
    for i in range(3):
        idx.append(_docs(ctx, spark, [
            (100 + i, f"filler increment number {i} with fresh words"),
        ]))
    before = idx.dedup_batch(_docs(ctx, spark, BATCH))
    ids_before = sorted(r.doc_id for r in before.df.collect())
    n_before = len(_parquet_files(path))

    idx.compact()

    n_after = len(_parquet_files(path))
    assert n_after < n_before
    after = ctx.dedup_index(path).dedup_batch(_docs(ctx, spark, BATCH))
    assert sorted(r.doc_id for r in after.df.collect()) == ids_before


@pytest.mark.parametrize("mode", ["minhash", "exact"])
def test_stats(ctx, spark, tmp_path, mode):
    path = str(tmp_path / f"stidx_{mode}")
    _docs(ctx, spark, CORPUS).dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=4, mode=mode)
    idx = ctx.dedup_index(path)
    s = idx.stats()
    assert s["mode"] == mode and s["docs"] == 3 and s["files"] > 0
    if mode == "minhash":
        assert s["postings"] == 3 * 4  # docs × bands
    idx.append(_docs(ctx, spark, [(50, "one more unique document text")]))
    s2 = idx.stats()
    assert s2["docs"] == 4 and s2["files"] > s["files"]
    idx.compact()
    assert ctx.dedup_index(path).stats()["docs"] == 4


def test_wide_probe_semijoin_dpp_layout_invariant(ctx, spark, tmp_path):
    """bucket_dirs dials only the pruning layout, never the result: a
    128-directory index probed by a big batch (> PROBE_LITERAL_MAX
    touched buckets → broadcast semi-join + dynamic partition pruning)
    must dedup identically to a 16-directory index (literal path) over
    the same corpus."""
    import re

    from pyspark.sql import functions as F

    docs = ctx.stream_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    wide = corpus.dedup_index_build(
        str(tmp_path / "wide"), bucket_dirs=128
    )
    narrow = corpus.dedup_index_build(
        str(tmp_path / "narrow"), bucket_dirs=16
    )
    out_w = wide.dedup_batch(batch, threshold=0.7)
    plan = out_w.df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("dynamicpruning" in p for p in pf), plan[:4000]

    got_w = sorted(r.doc_id for r in out_w.df.select("doc_id").collect())
    got_n = sorted(
        r.doc_id
        for r in narrow.dedup_batch(batch, threshold=0.7)
        .df.select("doc_id").collect()
    )
    assert got_w == got_n and 0 < len(got_w) <= batch.df.count()


def test_exact_wide_probe_semijoin_matches_literal(ctx, spark, tmp_path):
    """Exact-mode index: same layout invariance + DPP assertion for the
    sha2-key relation."""
    import re

    docs = ctx.stream_parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs  # every even doc matches itself exactly

    wide = corpus.dedup_index_build(
        str(tmp_path / "wide"), bucket_dirs=256, mode="exact"
    )
    narrow = corpus.dedup_index_build(
        str(tmp_path / "narrow"), bucket_dirs=8, mode="exact"
    )
    pairs_w = wide.match_batch(batch)
    plan = pairs_w.df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any("dynamicpruning" in p for p in pf), plan[:4000]

    got_w = sorted(map(tuple, pairs_w.df.collect()))
    got_n = sorted(map(tuple, narrow.match_batch(batch).df.collect()))
    assert got_w == got_n and len(got_w) >= corpus.df.count()


# ------------------------------------------------------------------ #
# append: survivors computed once, before either write
# ------------------------------------------------------------------ #

def _ingest_increment(ctx, spark, path):
    """An index over 40 docs plus the dedup_batch survivors (with the
    handshake) of a 30-doc increment, already collected once."""
    docs = spark.createDataFrame(
        [(i, "ingest doc %d words body text extra %d" % (i % 11, i % 3))
         for i in range(60)],
        "doc_id long, text string",
    )
    ctx.from_df(docs).filter("doc_id % 3 != 0").dedup_index_build(
        path, text_col="text", id_col="doc_id", bucket_dirs=4
    )
    idx = ctx.dedup_index(path)
    inc = _docs(ctx, spark, [
        (100 + i, "fresh increment doc %d about topic %d" % (i, i % 5))
        for i in range(30)
    ])
    surv = idx.dedup_batch(inc, threshold=0.7)
    ids = sorted(r.doc_id for r in surv.df.collect())
    return idx, surv, ids


def _rdd_block_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_append_computes_survivors_once(ctx, spark, tmp_path):
    """Both writes read one eager checkpoint of the survivors' sig: the
    append runs 7 jobs at this shape (12 when the second write
    recomputed the pairs plan against the half-written index), and the
    appended rows are exactly the survivors counted before it."""
    idx, surv, ids = _ingest_increment(ctx, spark, str(tmp_path / "idx"))
    sc = spark.sparkContext
    sc.setJobGroup("dedup_append", "dedup_append")
    try:
        idx.append(surv)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("dedup_append")) <= 7
    new_sh = idx._shingles_read().filter("id >= 100")
    new_bk = idx._buckets_read().filter("id >= 100")
    assert sorted(r.id for r in new_sh.collect()) == ids
    assert {r.id for r in new_bk.collect()} == set(ids)
    assert new_bk.count() == len(ids) * idx.meta["bands"]
    surv.unpersist()


def test_append_write_failure_leaves_no_blocks(ctx, spark, tmp_path,
                                               monkeypatch):
    """The survivors' sig is released when a write raises: no checkpoint
    block and no cache entry outlives the failed append."""
    from pyspark.sql.readwriter import DataFrameWriter

    spark.catalog.clearCache()
    idx, surv, _ids = _ingest_increment(ctx, spark, str(tmp_path / "idx"))
    real = DataFrameWriter.parquet

    def failing(self, path, *a, **k):
        if path.endswith("/shingles"):
            raise RuntimeError("injected shingles write failure")
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    base = _rdd_block_ids(spark)
    with pytest.raises(RuntimeError, match="injected"):
        idx.append(surv)
    assert not _rdd_block_ids(spark) - base
    surv.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
