# Round-11 OPTIMIZATION regression tests: performance-only changes, so
# these pin the *mechanisms* (the scan-shape guard on the partition
# probe, the parameter-checked append handshake, the columns= typo
# guard, the build-failure cache release) while the oracle suite pins
# that results never moved.

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ #
# _spread_for_compute: the .rdd partition probe only runs on plans
# with no upstream exchange (ADVICE round 10 — under AQE, .rdd on an
# exchange-shaped Dataset EXECUTES the upstream stages at plan-build
# time without reusing the result)
# ------------------------------------------------------------------ #

def test_plan_shape_guard_classifies_plans(ctx):
    from renoir_spark.datapipe import _plan_is_scan_shaped

    base = ctx.spark.range(0, 100, 1, 1)
    # scan / filter / project / union: probe-safe
    assert _plan_is_scan_shaped(base)
    assert _plan_is_scan_shaped(base.filter("id > 3").select("id"))
    assert _plan_is_scan_shaped(base.union(base))
    # exchange-shaped: aggregate, join, window, repartition, distinct
    agg = base.groupBy((F.col("id") % 3).alias("g")).count()
    assert not _plan_is_scan_shaped(agg)
    assert not _plan_is_scan_shaped(base.join(agg, base.id == agg.g))
    assert not _plan_is_scan_shaped(base.repartition(4))
    assert not _plan_is_scan_shaped(base.distinct())
    assert not _plan_is_scan_shaped(base.orderBy("id"))


def test_plan_shape_guard_ignores_marker_named_columns(ctx):
    from renoir_spark.datapipe import _plan_is_scan_shaped

    # markers are matched against plan NODE names, not the plan text: a
    # column called JoinDate/SortKey/WindowEnd is still a plain scan
    base = ctx.spark.range(0, 100, 1, 1)
    renamed = base.select(
        F.col("id").alias("JoinDate"), (F.col("id") * 2).alias("SortKey"),
        F.col("id").alias("WindowEnd"),
    )
    assert _plan_is_scan_shaped(renamed)
    assert _plan_is_scan_shaped(renamed.filter("SortKey > 3"))
    assert not _plan_is_scan_shaped(renamed.groupBy("JoinDate").count())
    # a cached aggregate still hides an exchange under its relation
    cached = renamed.groupBy("SortKey").count().persist()
    try:
        assert not _plan_is_scan_shaped(cached)
    finally:
        cached.unpersist()


def test_spread_skips_exchange_shaped_inputs_unchanged(ctx):
    from renoir_spark.datapipe import _spread_for_compute

    # a narrow aggregate output would previously be probed via .rdd
    # (executing the aggregate eagerly); now it is returned as-is
    agg = (
        ctx.spark.range(0, 1000, 1, 1)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
    )
    assert _spread_for_compute(agg) is agg
    # scan-shaped single-split input still spreads to parallelism
    narrow = ctx.spark.range(0, 1000, 1, 1)
    target = ctx.spark.sparkContext.defaultParallelism
    assert _spread_for_compute(narrow).rdd.getNumPartitions() >= target


# ------------------------------------------------------------------ #
# dedup→append handshake: path match alone is not enough — an index
# REBUILT at the same path with different signature params must not
# ingest a sig computed under the old params (ADVICE round 10)
# ------------------------------------------------------------------ #

def test_append_handshake_rejects_param_mismatch(ctx, tmp_path):
    from renoir_spark.dedup_index import (
        dedup_index_build,
        dedup_index_load,
    )

    rows = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, "alpha beta gamma delta %d" % (i % 5)) for i in range(40)],
            "doc_id long, text string",
        )
    )
    corpus = ctx.from_df(rows.df.filter("doc_id % 2 = 0"))
    batch = ctx.from_df(rows.df.filter("doc_id % 2 = 1"))

    path = str(tmp_path / "idx")
    dedup_index_build(corpus, path, text_col="text", id_col="doc_id",
                      bucket_dirs=4)
    idx = dedup_index_load(ctx.spark, path)
    surv = idx.dedup_batch(batch, threshold=0.7)
    assert getattr(surv, "_index_sig", None) is not None

    # rebuild the SAME path with different signature params: the stale
    # handshake must be rejected (append recomputes under the new meta)
    dedup_index_build(corpus, path, text_col="text", id_col="doc_id",
                      num_hashes=8, bands=2, shingle_n=2, bucket_dirs=4)
    idx2 = dedup_index_load(ctx.spark, path)
    from renoir_spark.dedup_index import _sig_for_append, _sig_token

    sentinel = object()
    got = _sig_for_append(idx2, surv, lambda: sentinel)
    assert got is sentinel  # fell back to compute(), not the stale sig

    # and the live index still accepts its own handshake
    surv2 = idx2.dedup_batch(batch, threshold=0.7)
    assert surv2._index_sig[0] == path
    assert surv2._index_sig[1] == _sig_token(idx2)
    got2 = _sig_for_append(idx2, surv2, lambda: sentinel)
    assert got2 is surv2._index_sig[2]


# ------------------------------------------------------------------ #
# columns= typo guard (ADVICE round 10)
# ------------------------------------------------------------------ #

def test_decode_columns_typo_raises_with_names(ctx):
    src = ctx.from_df(
        ctx.spark.createDataFrame(
            [(1, b"x")], "doc_id long, content binary"
        )
    )
    with pytest.raises(ValueError, match="decode_image.*doc_idd"):
        src.decode_image(columns=["doc_idd"])
    with pytest.raises(ValueError, match="sample_frames.*nope"):
        src.sample_frames(columns=["nope"])
    # valid projections keep working
    assert "doc_id" in src.decode_image(columns=["doc_id"]).df.columns


# ------------------------------------------------------------------ #
# ann_index_build: the staged cache is released even when a WRITE
# fails, not only when seed/stats fail (ADVICE round 10)
# ------------------------------------------------------------------ #

def test_ann_build_write_failure_releases_cache(ctx, tmp_path, monkeypatch):
    import renoir_spark.ann_index as ai

    emb = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, [float(i % 7)] * 8) for i in range(32)],
            "vec_id long, embedding array<double>",
        )
    )

    def boom(*a, **k):
        raise IOError("disk full (simulated)")

    monkeypatch.setattr(ai, "_write_codes", boom)
    jsc = ctx.spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(IOError):
        ai.ann_index_build(emb, str(tmp_path / "annidx"), dim=8,
                           n_cells=4)
    assert jsc.getPersistentRDDs().size() == before  # no leaked persist


def test_ann_query_failure_releases_probe_cache(ctx, tmp_path, monkeypatch):
    # AnnIndex.query persists its probed batch before the index lookup;
    # a failure before the result stream retains it must unpersist it
    import renoir_spark.ann_index as ai

    emb = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5)]) for i in range(32)],
            "vec_id long, embedding array<double>",
        )
    )
    path = str(tmp_path / "annidx")
    ai.ann_index_build(emb, path, dim=2, n_cells=4)
    idx = ai.ann_index_load(ctx.spark, path)

    probed = []
    real_probe = ai._ivf_probe

    def spy_probe(*a, **k):
        probed.append(real_probe(*a, **k))
        return probed[-1]

    def boom(*a, **k):
        raise IOError("listing failed (simulated)")

    monkeypatch.setattr(ai, "_ivf_probe", spy_probe)
    monkeypatch.setattr(ai, "prune_partitions", boom)
    with pytest.raises(IOError):
        idx.query(emb.filter("vec_id < 4"), k=2)
    (q,) = probed
    cache = ctx.spark._jsparkSession.sharedState().cacheManager()
    assert not q.is_cached
    assert cache.lookupCachedData(q._jdf).isEmpty()


# ------------------------------------------------------------------ #
# run_concurrent: every failure survives, a single one is unchanged
# ------------------------------------------------------------------ #

def test_run_concurrent_keeps_every_failure():
    from renoir_spark.util import run_concurrent

    ran = []

    def ok():
        ran.append("ok")

    def fail_a():
        raise IOError("meta write failed")

    def fail_b():
        raise ValueError("grid write failed")

    with pytest.raises(ExceptionGroup) as info:
        run_concurrent(fail_a, ok, fail_b)
    assert ran == ["ok"]
    assert sorted(type(e).__name__ for e in info.value.exceptions) == [
        "OSError", "ValueError"]
    # one failure propagates as itself, not wrapped
    with pytest.raises(ValueError, match="grid write failed"):
        run_concurrent(ok, fail_b)
