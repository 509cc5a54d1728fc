"""Round-6 hardening tests.

1. Deterministic release of localCheckpoint blocks: measures the claim
   that ``Dataset.unpersist`` does NOT free checkpoint blocks, proves
   ``util.free_local_checkpoint`` does, and pins the iteration loops /
   bpe_train to leaving ZERO leaked RDD blocks behind.
2. Streaming-state telemetry: the progress retention cap is raised and
   ``progress_capped`` is reported (ADVICE round 5).
3. bench.py / tools/scale_curve.py dispatch streaming legs from one
   shared registry (ADVICE round 5).
"""

import pytest
from pyspark.sql import functions as F


def _rdd_block_ids(spark):
    return sorted(
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


# ------------------------------------------------------------------ #
# free_local_checkpoint: the measured Dataset.unpersist no-op + fix
# ------------------------------------------------------------------ #

def test_dataset_unpersist_leaks_checkpoint_blocks(spark):
    """The upstream behavior our helper exists for: Dataset.unpersist
    routes through the CacheManager only and leaves localCheckpoint
    blocks pinned. If this ever starts passing the other way (Spark
    fixes it), free_local_checkpoint degrades to a plain unpersist."""
    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    df = spark.range(10_000).localCheckpoint(eager=True)
    assert set(_rdd_block_ids(spark)) - base  # blocks exist
    df.unpersist(True)
    leaked = set(_rdd_block_ids(spark)) - base
    assert leaked, "Dataset.unpersist freed checkpoint blocks (new Spark?)"
    # clean up for the other tests
    from renoir_spark.util import free_local_checkpoint

    free_local_checkpoint(df, blocking=True)
    assert not set(_rdd_block_ids(spark)) - base


def test_free_local_checkpoint_both_kinds(spark):
    from renoir_spark.util import free_local_checkpoint, is_local_checkpoint

    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    ck = spark.range(10_000).selectExpr("id", "id * 2 AS y").localCheckpoint(
        eager=True
    )
    assert is_local_checkpoint(ck)
    free_local_checkpoint(ck, blocking=True)
    assert not set(_rdd_block_ids(spark)) - base

    pf = spark.range(10_000).persist()
    pf.count()
    assert not is_local_checkpoint(pf)
    free_local_checkpoint(pf, blocking=True)
    assert not set(_rdd_block_ids(spark)) - base


# ------------------------------------------------------------------ #
# loops leave no storage behind (checkpoint generations included)
# ------------------------------------------------------------------ #

def test_iterate_releases_all_blocks(ctx, spark):
    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    s = ctx.stream_iter([(float(i),) for i in range(100)], "x double")
    state, out = s.iterate(
        9,
        0.0,
        lambda st, _h: st.map(x=F.col("x") * 0.5),
        lambda acc, df: acc + df.agg(F.sum("x")).collect()[0][0],
    )
    rows = out.collect_vec()
    assert len(rows) == 100
    leaked = set(_rdd_block_ids(spark)) - base
    # only the RETURNED final checkpoint may hold blocks
    assert len(leaked) <= 1, leaked
    from renoir_spark.util import free_local_checkpoint

    free_local_checkpoint(out.df, blocking=True)
    assert not set(_rdd_block_ids(spark)) - base


def test_replay_releases_all_blocks(ctx, spark):
    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    s = ctx.stream_iter([(float(i),) for i in range(50)], "x double")
    state = s.replay(
        9,
        0.0,
        lambda st, h: st.map(x=F.col("x") + 1.0),
        lambda acc, df: acc + df.agg(F.sum("x")).collect()[0][0],
    )
    assert state > 0
    # replay returns only driver state: nothing may stay cached
    assert not set(_rdd_block_ids(spark)) - base


def test_delta_iterate_releases_all_blocks(ctx, spark):
    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    s = ctx.stream_iter(
        [(i, float(10 - i)) for i in range(10)], "k int, v double"
    ).key_by("k")

    def body(state, it):
        return state._stream(
            state.df.filter(F.col("v") > 0).select(
                "k", (F.col("v") - 1.0).alias("v")
            )
        )

    out = s.delta_iterate(12, body)
    assert out.df.count() == 10
    leaked = set(_rdd_block_ids(spark)) - base
    assert len(leaked) <= 1, leaked  # the returned final checkpoint
    from renoir_spark.util import free_local_checkpoint

    free_local_checkpoint(out.df, blocking=True)
    assert not set(_rdd_block_ids(spark)) - base


def test_bpe_train_releases_all_blocks(ctx, spark):
    spark.catalog.clearCache()
    base = set(_rdd_block_ids(spark))
    docs = ctx.stream_iter(
        [("the cat sat on the mat",), ("the cat ate the rat",)] * 5,
        "text string",
    )
    merges = docs.bpe_train("text", num_merges=10, checkpoint_every=3)
    assert merges.collect_count() > 0
    assert not set(_rdd_block_ids(spark)) - base


# ------------------------------------------------------------------ #
# streaming telemetry: progress cap raised + capping surfaced
# ------------------------------------------------------------------ #

def test_state_telemetry_reports_progress_cap(ctx, spark, tmp_path):
    import pandas as pd

    from renoir_spark.streaming import run_to_completion

    spool = str(tmp_path / "spool")
    import os

    os.makedirs(spool)
    pd.DataFrame({"v": list(range(20))}).to_parquet(f"{spool}/a.parquet")
    src = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    prior = spark.conf.get(
        "spark.sql.streaming.numRecentProgressUpdates", "100"
    ) or "100"
    telemetry = []
    rows = run_to_completion(
        src.groupBy().count(), output_mode="complete", telemetry=telemetry
    )
    assert rows[0][0] == 20
    (st,) = telemetry
    assert st["progress_capped"] is False
    assert st["batches"] >= 1
    # the retention override is scoped to the drain: the session value
    # is RESTORED afterwards (ADVICE round 6 — a telemetry run must not
    # change behavior for subsequent non-telemetry streaming work)
    assert int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
    ) == int(prior)


# ------------------------------------------------------------------ #
# shared streaming-leg registry (bench <-> scale_curve drift guard)
# ------------------------------------------------------------------ #

def test_streaming_leg_registry_complete():
    import os
    import re
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench

    assert set(bench.STREAMING_LEGS) == {
        "s01_nexmark_hot_items_stream",
        "s02_stream_stream_join",
        "s03_transaction_window_stream",
        "s04_session_window_stream",
        "s05_minhash_dedup_stream",
        "s06_embedding_dedup_stream",
        # round-8: the perceptual-hash media leg
        "s07_phash_dedup_stream",
        # round-9: the second unbounded NEXMark entry (highest bid)
        "s08_nexmark_highest_bid_stream",
    }
    # scale_curve must dispatch from the registry, not a private copy
    src = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "scale_curve.py")).read()
    assert "STREAMING_LEGS" in src
    assert not re.search(r'"s0\d_\w+":\s*bench\._streaming', src)


# ------------------------------------------------------------------ #
# diversity_sample auto-dial (shared rule with ann_index_build)
# ------------------------------------------------------------------ #

def test_auto_cells_rule():
    from renoir_spark.datapipe import auto_cells

    assert auto_cells(0) == 16
    assert auto_cells(256) == 16
    assert auto_cells(257) == 17  # ceil(sqrt) — not floor
    assert auto_cells(10_000) == 100
    assert auto_cells(10**12) == 10**6


def test_diversity_sample_auto_dial(ctx, sf_dir):
    from renoir_spark.datapipe import auto_cells

    emb = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.df.count()
    dialed = auto_cells(n)
    assert dialed > 16  # testdata is big enough for the dial to move
    out = emb.diversity_sample(n_cells=None, per_cell=3).collect_vec()
    assert all(0 <= r.cell < dialed for r in out)
    # the dial actually widened the stratification beyond the old pin
    assert max(r.cell for r in out) >= 16
    per = {}
    for r in out:
        per[r.cell] = per.get(r.cell, 0) + 1
    assert all(v <= 3 for v in per.values())


# ------------------------------------------------------------------ #
# AnnIndex.stats drift signal (frozen-centroid rebuild trigger)
# ------------------------------------------------------------------ #

def test_ann_index_stats_drift(ctx, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    emb = ctx.stream_parquet(f"{sf_dir}/embeddings.parquet")
    idx = emb.ann_index_build(str(tmp_path / "annidx"), n_cells=8)

    st = idx.stats()
    assert st["drift"]["build"] is not None
    assert st["drift"]["appended"] is None  # nothing appended yet
    assert st["drift"]["mean_ratio"] is None
    b = st["drift"]["build"]
    assert 0.0 <= b["mean"] <= 2.0 and b["p50"] <= b["p90"] <= b["p99"]

    # in-distribution append: scaled copies (same direction, cos == 1
    # to themselves) — drift ratio should stay near 1
    near = emb.df.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
    ).limit(200)
    idx.append(ctx.from_df(near))
    st1 = idx.stats()
    a1 = st1["drift"]["appended"]
    assert a1 is not None and a1["n"] > 0
    assert 0.5 <= st1["drift"]["mean_ratio"] <= 1.5

    # SHIFTED append: constant vectors far from every centroid — the
    # appended fit must measurably degrade vs the build fit
    shifted = emb.df.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i < 1, F.lit(50.0)).otherwise(
                F.lit(-50.0) * (x - x)
            )
        ).alias("embedding"),
    ).limit(300)
    idx.append(ctx.from_df(shifted))
    st2 = idx.stats()
    assert st2["drift"]["mean_ratio"] > st1["drift"]["mean_ratio"]
    # deterministic: same call, same numbers
    assert idx.stats() == st2


def test_ann_index_stats_drift_empty_index(ctx, tmp_path):
    s = ctx.stream_iter([], "vec_id long, embedding array<float>")
    idx = s.ann_index_build(str(tmp_path / "annempty"), n_cells=4)
    st = idx.stats()
    assert st["vectors"] == 0
    assert st["drift"] == {"build": None, "appended": None,
                           "mean_ratio": None}


# ------------------------------------------------------------------ #
# uniform match_batch contract across the three persisted indexes
# (round-5 verdict ask #8 — the exact index gained match_batch with
# the minhash pair-output shape; pin all three surfaces together so
# downstream cluster tooling composes against ONE contract)
# ------------------------------------------------------------------ #

def test_match_batch_contract_uniform(ctx, spark, tmp_path):
    docs = ctx.from_df(spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "entirely different content about spark physical plans"),
         (3, "a third document with its own words and nothing shared")],
        "doc_id long, text string"))
    batch = ctx.from_df(spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again"),
         (11, "novel text that matches nothing in the corpus at all")],
        "doc_id long, text string"))

    mh = docs.dedup_index_build(str(tmp_path / "mh"), text_col="text",
                                id_col="doc_id", bucket_dirs=4)
    ex = docs.dedup_index_build(str(tmp_path / "ex"), text_col="text",
                                id_col="doc_id", bucket_dirs=4,
                                mode="exact")
    for idx, score_col in ((mh, "jac"), (ex, "jac")):
        pairs = idx.match_batch(batch).df
        assert pairs.columns == ["batch_id", "corpus_id", score_col]
        rows = pairs.collect()
        assert [(r.batch_id, r.corpus_id) for r in rows] == [(10, 1)]
        assert rows[0][score_col] == 1.0
        # dedup_batch = batch minus matched ids, same on both modes
        surv = sorted(r.doc_id for r in
                      idx.dedup_batch(batch).df.collect())
        assert surv == [11]

    emb_corpus = ctx.from_df(spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>"))
    emb_batch = ctx.from_df(spark.createDataFrame(
        [(10, [2.0, 0.0, 0.0, 0.0]),   # scaled copy of 1 -> cos 1
         (11, [0.0, 0.0, 0.0, 1.0])],  # orthogonal -> novel
        "vec_id long, embedding array<double>"))
    ann = emb_corpus.ann_index_build(str(tmp_path / "ann"), n_cells=2,
                                     dim=4)
    pairs = ann.match_batch(emb_batch, threshold=0.9, nprobe=2).df
    assert pairs.columns == ["batch_id", "corpus_id", "cos"]
    rows = pairs.collect()
    assert [(r.batch_id, r.corpus_id) for r in rows] == [(10, 1)]
    surv = sorted(r.vec_id for r in
                  ann.dedup_batch(emb_batch, threshold=0.9,
                                  nprobe=2).df.collect())
    assert surv == [11]


# ------------------------------------------------------------------ #
# epoch_shuffle: reproducible training order + worker sharding
# ------------------------------------------------------------------ #

def test_epoch_shuffle_deterministic_and_partition_invariant(ctx):
    rows = [(i,) for i in range(500)]
    s1 = ctx.stream_iter(rows, "id long")
    a = {r.id: r.shuffle_pos
         for r in s1.epoch_shuffle("id", seed=3, epoch=1).collect_vec()}
    # same inputs, different physical partitioning -> identical order
    s2 = ctx.from_df(ctx.spark.createDataFrame(rows, "id long")
                     .repartition(13))
    b = {r.id: r.shuffle_pos
         for r in s2.epoch_shuffle("id", seed=3, epoch=1).collect_vec()}
    assert a == b
    assert sorted(a.values()) == list(range(1, 501))  # a true permutation


def test_epoch_shuffle_seed_and_epoch_reshuffle(ctx):
    rows = [(i,) for i in range(300)]
    s = ctx.stream_iter(rows, "id long")

    def order(seed, epoch):
        return tuple(
            r.id for r in sorted(
                s.epoch_shuffle("id", seed=seed, epoch=epoch).collect_vec(),
                key=lambda r: r.shuffle_pos,
            )
        )

    o00, o01, o10 = order(0, 0), order(0, 1), order(1, 0)
    assert o00 != o01 and o00 != o10 and o01 != o10
    assert order(0, 0) == o00  # reproducible
    # not the identity order (it IS a shuffle)
    assert o00 != tuple(range(300))


def test_epoch_shuffle_shards_interleave_global_order(ctx):
    s = ctx.stream_iter([(i,) for i in range(100)], "id long")
    out = s.epoch_shuffle("id", seed=5, n_shards=4).collect_vec()
    by_pos = sorted(out, key=lambda r: r.shuffle_pos)
    # round-robin by position: shard = (pos-1) % n, so each shard is a
    # uniform 1/n sample and interleaving shards replays global order
    assert all(r.shard == (r.shuffle_pos - 1) % 4 for r in by_pos)
    sizes = {}
    for r in out:
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
    assert sizes == {0: 25, 1: 25, 2: 25, 3: 25}
