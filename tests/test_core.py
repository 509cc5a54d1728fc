"""Per-operator golden tests on dense integer ranges (FIXTURES.md F1/F2),
mirroring the reference's test style (tests/aggregators.rs etc.): expected
values computed with plain Python, outputs compared order-insensitively."""

from pyspark.sql import functions as F

from tests.conftest import rows_to_sorted_tuples

N = 1000


def _ints(ctx, n=N):
    return ctx.stream_range(n)  # column: id


def test_map_filter(ctx):
    got = (
        _ints(ctx)
        .map(doubled=F.col("id") * 2)
        .filter("doubled % 10 = 0")
        .collect_vec()
    )
    exp = sorted(i * 2 for i in range(N) if (i * 2) % 10 == 0)
    assert sorted(r.doubled for r in got) == exp


def test_filter_map(ctx):
    got = (
        _ints(ctx)
        .filter_map(v=F.when(F.col("id") % 3 == 0, F.col("id") * 10))
        .collect_vec()
    )
    exp = sorted(i * 10 for i in range(N) if i % 3 == 0)
    assert sorted(r.v for r in got) == exp


def test_flat_map_flatten(ctx):
    got = (
        _ints(ctx, 10)
        .map(arr=F.sequence(F.lit(0), F.col("id")))
        .flatten("arr")
        .collect_vec()
    )
    exp = sorted(j for i in range(10) for j in range(i + 1))
    assert sorted(r.value for r in got) == exp


def test_group_by_fold_sum(ctx):
    got = (
        _ints(ctx)
        .group_by(k=F.col("id") % 7)
        .sum("id")
        .collect_vec()
    )
    exp = {}
    for i in range(N):
        exp[i % 7] = exp.get(i % 7, 0) + i
    assert {r.k: r.sum for r in got} == exp


def test_group_by_count_avg(ctx):
    ks = (
        _ints(ctx)
        .group_by(k=F.col("id") % 5)
    )
    counts = {r.k: r["count"] for r in ks.count().collect_vec()}
    avgs = {r.k: r.avg for r in ks.avg("id").collect_vec()}
    for k in range(5):
        members = [i for i in range(N) if i % 5 == k]
        assert counts[k] == len(members)
        assert abs(avgs[k] - sum(members) / len(members)) < 1e-9


def test_group_by_max_element(ctx):
    got = (
        _ints(ctx)
        .with_column("neg", -F.col("id"))
        .group_by(k=F.col("id") % 4)
        .max_element(F.col("neg"))
        .collect_vec()
    )
    # arg-max of neg == smallest id in group
    exp = {k: min(i for i in range(N) if i % 4 == k) for k in range(4)}
    assert {r.k: r.id for r in got} == exp


def test_global_fold_reduce(ctx):
    row = _ints(ctx).fold(total=F.sum("id"), n=F.count("*")).collect_vec()[0]
    assert row.total == N * (N - 1) // 2
    assert row.n == N


def test_fold_py(ctx):
    total = _ints(ctx, 100).fold_py(
        0, lambda acc, row: acc + row.id, lambda a, b: a + b
    )
    assert total == sum(range(100))


def test_unique_assoc(ctx):
    got = _ints(ctx).map(m=F.col("id") % 10).unique_assoc().collect_vec()
    assert sorted(r.m for r in got) == list(range(10))


def test_unique_assoc_by_key_deterministic(ctx):
    got = (
        _ints(ctx)
        .map(k=F.col("id") % 10, id=F.col("id"))
        .unique_assoc_by_key("k", order=["id"])
        .collect_vec()
    )
    assert {r.k: r.id for r in got} == {k: k for k in range(10)}


def test_fold_scan(ctx):
    got = (
        _ints(ctx, 100)
        .fold_scan(
            {"total": F.sum("id")},
            lambda agg: [F.col("id"), (F.col("id") / agg["total"]).alias("frac")],
        )
        .collect_vec()
    )
    total = sum(range(100))
    assert len(got) == 100
    for r in got:
        assert abs(r.frac - r.id / total) < 1e-12


def test_keyed_fold_scan(ctx):
    got = (
        _ints(ctx, 100)
        .group_by(k=F.col("id") % 4)
        .fold_scan(
            {"ksum": F.sum("id")},
            lambda agg: [F.col("k"), F.col("id"), agg["ksum"].alias("ksum")],
        )
        .collect_vec()
    )
    exp = {k: sum(i for i in range(100) if i % 4 == k) for k in range(4)}
    assert len(got) == 100
    for r in got:
        assert r.ksum == exp[r.k]


def test_merge_union(ctx):
    a = _ints(ctx, 10)
    b = _ints(ctx, 5)
    got = a.merge(b).collect_vec()
    assert sorted(r.id for r in got) == sorted(list(range(10)) + list(range(5)))


def test_zip(ctx):
    a = _ints(ctx, 10).map(x=F.col("id"))
    b = _ints(ctx, 7).map(y=F.col("id") * 100)
    got = a.zip(b, order=["x"], other_order=["y"]).collect_vec()
    assert len(got) == 7  # truncates to shorter
    assert sorted((r.x, r.y) for r in got) == [(i, i * 100) for i in range(7)]


def test_route_first_match(ctx):
    big, even, rest = (
        _ints(ctx, 20)
        .route()
        .add_route(F.col("id") >= 15)
        .add_route(F.col("id") % 2 == 0)
        .add_route(F.lit(True))
        .build()
    )
    assert sorted(r.id for r in big.collect_vec()) == list(range(15, 20))
    assert sorted(r.id for r in even.collect_vec()) == [
        i for i in range(15) if i % 2 == 0
    ]
    assert sorted(r.id for r in rest.collect_vec()) == [
        i for i in range(15) if i % 2 == 1
    ]


def test_route_null_earlier_predicate_falls_through(ctx):
    """A row whose earlier predicate is NULL did not match it, so the
    first later route it matches receives it (renoir's first match)."""
    s = ctx.stream_iter([(1, None), (2, 5), (3, 20)], "id long, v long")
    big, rest = (
        s.route().add_route(F.col("v") > 10).add_route(F.col("id") >= 1).build()
    )
    assert sorted(r.id for r in big.collect_vec()) == [3]
    assert sorted(r.id for r in rest.collect_vec()) == [1, 2]


def test_route_unpersist_releases_persisted_base(ctx, spark):
    """Like split's branches, route branches share the persisted base:
    unpersist() on every branch leaves the CacheManager empty."""
    spark.catalog.clearCache()
    branches = (
        _ints(ctx, 20).route().add_route(F.col("id") < 10)
        .add_route(F.lit(True)).build()
    )
    assert sum(b.collect_count() for b in branches) == 20
    for b in branches:
        b.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sorted_limit_offset(ctx):
    got = _ints(ctx).sorted_limit_by(F.col("id").desc(), 5, offset=2).collect_vec()
    assert [r.id for r in got] == [N - 3, N - 4, N - 5, N - 6, N - 7]


def test_key_by_no_shuffle_then_join(ctx):
    left = _ints(ctx, 50).key_by(k="id % 5")
    right = (
        ctx.stream_iter([(k, f"name{k}") for k in range(5)], "k long, name string")
        .key_by("k")
    )
    got = left.join(right).collect_vec()
    assert len(got) == 50
    for r in got:
        assert r.name == f"name{r.k}"


def test_map_batches_pandas(ctx):
    got = (
        _ints(ctx, 100)
        .map_batches(lambda pdf: pdf.assign(sq=pdf.id**2)[["sq"]], "sq long")
        .collect_vec()
    )
    assert sorted(r.sq for r in got) == [i * i for i in range(100)]


def test_rich_map_batches_partition_state(ctx):
    # running count per partition — renoir rich_map semantics (per-replica state)
    got = (
        _ints(ctx, 100)
        .shuffle(4)
        .rich_map_batches(
            lambda: {"n": 0},
            lambda st, pdf: pdf.assign(seq=range(st["n"], st.update(n=st["n"] + len(pdf)) or st["n"]))[["id", "seq"]],
            "id long, seq long",
        )
        .collect_vec()
    )
    assert len(got) == 100
    # each partition numbers from 0 upward; max seq < 100
    assert all(0 <= r.seq < 100 for r in got)


def test_join_salted_equals_plain_join(ctx):
    """Salting is pure execution strategy: inner and left salted joins
    must equal the plain joins row-for-row, including unmatched-left
    null extension."""
    left = ctx.stream_iter(
        [(1, "a"), (1, "b"), (2, "c"), (9, "z")], "k long, lv string"
    )
    right = ctx.stream_iter([(1, 10.0), (2, 20.0)], "k long, rv double")
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.lv, r.rv)
            for r in left.join_salted(right, "k", salt=4, how=how).df.collect()
        )
        want = sorted(
            (r.k, r.lv, r.rv) for r in left.join(right, "k", how=how).df.collect()
        )
        assert got == want, how
    import pytest

    with pytest.raises(ValueError):
        left.join_salted(right, "k", how="full")
