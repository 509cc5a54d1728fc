"""Iteration subsystem tests (SURVEY §2.9) — golden values mirror the
reference's doctests and examples (iterate.rs doctest, replay.rs doctest,
connected_components.rs, kmeans.rs)."""

import pytest
from pyspark.sql import functions as F


def test_iterate_reference_doctest(ctx):
    # renoir iterate.rs:341-366 doctest: stream 0..3, 3 iterations of
    # map(+10); state folds the sum of EVERY iteration's elements;
    # items = last iteration's elements.
    s = ctx.stream_range(3).map(n=F.col("id"))
    state, items = s.iterate(
        3,
        0,
        lambda st, _h: st.map(n=F.col("n") + 10),
        lambda acc, df: acc + df.agg(F.sum("n")).collect()[0][0],
        lambda _st: True,
    )
    assert state == (10 + 11 + 12) + (20 + 21 + 22) + (30 + 31 + 32)
    assert sorted(r.n for r in items.collect_vec()) == [30, 31, 32]


def test_iterate_loop_condition_stops_early(ctx):
    s = ctx.stream_range(4).map(n=F.col("id"))
    state, _items = s.iterate(
        100,
        0,
        lambda st, _h: st.map(n=F.col("n") + 1),
        lambda acc, _df: acc + 1,
        lambda st: st < 5,  # stop after 5 iterations
    )
    assert state == 5


def test_iterate_state_handle_readable_in_body(ctx):
    s = ctx.stream_range(3).map(n=F.col("id"))
    seen = []

    def body(st, handle):
        seen.append(handle.get())
        return st.map(n=F.col("n") + handle.get())

    state, items = s.iterate(3, 1, body, lambda acc, _df: acc + 1)
    assert seen == [1, 2, 3]  # state evolves between iterations
    # 0,1,2 +1 then +2 then +3 → 6,7,8
    assert sorted(r.n for r in items.collect_vec()) == [6, 7, 8]


def test_replay_same_input_each_round(ctx):
    # replay.rs doctest shape: the SAME input re-fed; only state evolves.
    s = ctx.stream_range(10).map(n=F.col("id"))
    total = s.replay(
        3,
        0,
        lambda st, _h: st,
        lambda acc, df: acc + df.agg(F.sum("n")).collect()[0][0],
    )
    assert total == 3 * sum(range(10))


def test_replay_kmeans_1d(ctx):
    # kmeans.rs shape in 1-D: two clusters around 0..4 and 100..104;
    # centroid assignment re-reads the same points each round.
    pts = ctx.stream_iter(
        [(float(x),) for x in list(range(5)) + list(range(100, 105))],
        "x double",
    )

    def body(st, handle):
        c0, c1 = handle.get()
        return st.map(
            "x",
            cluster=F.when(
                F.abs(F.col("x") - c0) <= F.abs(F.col("x") - c1), 0
            ).otherwise(1),
        )

    def update(state, df):
        rows = df.groupBy("cluster").agg(F.avg("x").alias("m")).collect()
        means = {r.cluster: r.m for r in rows}
        return (means.get(0, state[0]), means.get(1, state[1]))

    final = ctx.from_df(pts.df).replay(10, (0.0, 1.0), body, update)
    assert abs(final[0] - 2.0) < 1e-9
    assert abs(final[1] - 102.0) < 1e-9


def test_delta_iterate_chain_components(ctx):
    # path graph 0-1-2-3-4 plus isolated 10: min label must walk the
    # chain (4 propagation rounds) and stop when no deltas remain.
    verts = [0, 1, 2, 3, 4, 10]
    e0 = [(i, i + 1) for i in range(4)]
    edges_rows = e0 + [(b, a) for a, b in e0]
    edges = ctx.stream_iter(edges_rows, "src long, dst long").df

    init = ctx.stream_iter([(v, v) for v in verts], "v long, comp long").key_by("v")

    def body(state, _it):
        cand = (
            state.df.join(edges, state.df["v"] == edges["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("comp").alias("new_comp"))
        )
        return state._stream(
            cand.join(state.df, "v")
            .filter(F.col("new_comp") < F.col("comp"))
            .select("v", F.col("new_comp").alias("comp"))
        )

    final = init.delta_iterate(50, body)
    got = {r.v: r.comp for r in final.df.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10}


# ------------------------------------------------------------------ #
# round cost and storage: one lazy checkpoint per round
# ------------------------------------------------------------------ #

def _rdd_block_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _path_components(ctx, k):
    """Path graph 0-1-...-k: min-label propagation needs exactly k
    rounds with deltas, then one empty round."""
    e0 = [(i, i + 1) for i in range(k)]
    edges = ctx.stream_iter(
        e0 + [(b, a) for a, b in e0], "src long, dst long"
    ).df
    init = ctx.stream_iter(
        [(v, v) for v in range(k + 1)], "v long, comp long"
    ).key_by("v")

    def body(state, _it):
        cand = (
            state.df.join(edges, state.df["v"] == edges["src"])
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("comp").alias("new_comp"))
        )
        return state._stream(
            cand.join(state.df, "v")
            .filter(F.col("new_comp") < F.col("comp"))
            .select("v", F.col("new_comp").alias("comp"))
        )

    return init, body


def test_delta_iterate_runs_one_job_per_round(ctx, spark):
    """k delta rounds plus the empty round: k + 1 jobs, the delta counts.
    Every round's state is a checkpoint leaf, materialized by the next
    round's count, and the loop ends on no trailing checkpoint job."""
    from renoir_spark.util import free_local_checkpoint, is_local_checkpoint

    k = 5
    init, body = _path_components(ctx, k)
    leaf = []

    def traced(state, it):
        leaf.append(is_local_checkpoint(state.df))
        return body(state, it)

    sc = spark.sparkContext
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup("delta_rounds", "delta_rounds")
    try:
        final = init.delta_iterate(50, traced)
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("delta_rounds")) == k + 1
    assert len(leaf) == k + 1 and all(leaf[1:]), leaf
    assert {r.comp for r in final.df.collect()} == {0}
    free_local_checkpoint(final.df, blocking=True)


class _Boom(RuntimeError):
    pass


def _run_failing_loop(ctx, loop, part):
    """Run ``loop`` with ``part`` (its body, merge or state_update)
    raising on its third call, i.e. in round 3."""
    calls = []

    def hit(name):
        if name == part:
            calls.append(1)
            if len(calls) == 3:
                raise _Boom("injected in round 3")

    if loop == "delta_iterate":
        init, body = _path_components(ctx, 8)

        def failing_body(state, it):
            hit("body")
            return body(state, it)

        def merge(state, delta):
            hit("merge")
            return state._stream(
                state.df.join(
                    delta.df.withColumnRenamed("comp", "d"), "v", "left"
                ).select("v", F.coalesce("d", "comp").alias("comp"))
            )

        init.delta_iterate(20, failing_body, merge)
        return

    def step(st, _h):
        hit("body")
        return st.map(x=F.col("x") + 1.0)

    def update(acc, df):
        hit("state_update")
        return acc + df.agg(F.sum("x")).collect()[0][0]

    s = ctx.stream_iter([(float(i),) for i in range(50)], "x double")
    getattr(s, loop)(9, 0.0, step, update)


@pytest.mark.parametrize("loop, part", [
    ("iterate", "body"), ("iterate", "state_update"), ("replay", "body"),
    ("replay", "state_update"), ("delta_iterate", "body"),
    ("delta_iterate", "merge"),
])
def test_loop_frees_every_generation_when_a_round_raises(ctx, spark, loop,
                                                          part):
    spark.catalog.clearCache()
    base = _rdd_block_ids(spark)
    with pytest.raises(_Boom):
        _run_failing_loop(ctx, loop, part)
    assert not _rdd_block_ids(spark) - base
    assert _cache_is_empty(spark)


@pytest.mark.parametrize(
    "name", ["q25_connected_components", "q26_pagerank", "q89_sssp"]
)
def test_graph_queries_release_their_side_input_caches(spark, sf_dir, name):
    """The loop's result is a checkpoint, so no later action reads the
    invariant edge caches: the query must leave the CacheManager as it
    found it (a kept entry would also serve stale rows to a later call on
    rewritten files at the same path)."""
    from renoir_spark import suite

    spark.catalog.clearCache()
    assert suite.QUERIES[name](spark, sf_dir).count() > 0
    assert _cache_is_empty(spark)
