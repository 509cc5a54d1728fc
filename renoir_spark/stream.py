"""Stream — the unkeyed distributed stream, backed by a DataFrame.

Reference parity: renoir's ``Stream<Op>`` (src/stream.rs:27-35) is a typed
method-chained operator graph. Here every method declares a DataFrame
transformation and Catalyst plans the physical execution (fusion, partial
aggregation, join strategy, pushdown — SURVEY.md §4).

Design rule: operators accept **Column expressions / SQL strings** as the
fast JVM path; arbitrary Python callables are the explicit slow path and go
through Arrow-vectorized pandas UDFs (`mapInPandas`), never row-at-a-time.
"""

from __future__ import annotations

import functools
from typing import TYPE_CHECKING, Callable, Iterable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import named_cols, to_col, to_cols, ts_micros

if TYPE_CHECKING:  # pragma: no cover
    from .context import StreamContext


def _global_index(df: DataFrame, order_cols: list, idx: str = "__zip_idx"):
    """Distributed 1-based global row index in ``order_cols`` order.
    Returns ``(indexed_df, cached_relation)`` — the caller must arrange
    ``cached_relation.unpersist()`` (e.g. via ``Stream._retain``).

    Scale design: a bare ``row_number() OVER (ORDER BY ...)`` funnels every
    row through ONE task. Instead: range-partition on the order (so
    partition ids follow global order), number rows WITHIN each partition,
    then add broadcast per-partition offsets — the classic zipWithIndex,
    stated as DataFrame ops. The only single-task step is the offset
    cumsum over ~num_partitions rows.

    The persist is CORRECTNESS, not caching: the offsets branch and the
    data branch both consume the range exchange, and two physical
    instances of a range exchange sample their partition boundaries
    independently (rdd-id-seeded reservoir sample) — with column pruning
    making the branches non-identical, ReuseExchange cannot deduplicate
    them and the branches can disagree on partition ids (measured: ~7%
    of rows on the events table). One shared InMemoryRelation pins a
    single physical partitioning for every consumer.
    """
    d = df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    # monotonically_increasing_id AFTER the sort = (partition id << 33) +
    # row position in sorted order — the per-partition row number without
    # the extra hash exchange + sort a row_number() window would add.
    d = d.withColumn("__mid", F.monotonically_increasing_id())
    d = d.withColumn("__pid", F.spark_partition_id())
    d = d.persist()
    counts = d.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(woff), F.lit(0))
    ).drop("__cnt")
    pos_in_part = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(idx, F.col("__off") + pos_in_part + 1)
        .drop("__pid", "__mid", "__off")
    )
    return out, d


def _fold_py_partials(df: DataFrame, init, local_fn: Callable) -> DataFrame:
    """Per-partition partial fold as an Arrow-batched stage: each input
    partition reduces to ONE pickled-accumulator row (so the driver merge
    sees <= num_partitions rows). Rows reach ``local_fn`` as pyspark
    ``Row`` objects (attribute + [] access) built from
    ``RecordBatch.to_pylist`` (``mapInArrow``), NOT a pandas conversion:
    pandas would coerce a nullable long column to float64, handing the
    closure NaN (truthy!) where the old RDD path delivered None, and
    rounding longs above 2^53 — ``to_pylist`` preserves exact ints,
    None, and datetimes."""
    import pickle

    from pyspark.sql import Row

    cols = list(df.columns)
    mk = Row(*cols)

    def _partial(batches):
        import copy

        import pyarrow as pa

        acc = copy.deepcopy(init)
        seen = False
        for batch in batches:
            for rec in batch.to_pylist():
                acc = local_fn(acc, mk(*[rec[c] for c in cols]))
                seen = True
        if seen:
            yield pa.RecordBatch.from_pydict(
                {"acc": [pickle.dumps(acc)]},
                schema=pa.schema([("acc", pa.binary())]),
            )

    return df.mapInArrow(_partial, "acc binary")


class Stream:
    """A distributed stream of rows (renoir ``Stream``, src/stream.rs:27-35)."""

    def __init__(self, ctx: "StreamContext", df: DataFrame) -> None:
        self.ctx = ctx
        self.df = df
        # internal persisted relations backing THIS stream's plan (dedup
        # signature relations, outer interval-join id frames, ...);
        # released by unpersist() — renoir's CacheHandle-drop analog
        self._retained: list = []

    def _new(self, df: DataFrame) -> "Stream":
        # correctness persists (zip's global index, running_sum's range
        # exchange, dedup signatures) must survive CHAINING: without
        # propagation, `zip(...).map(...)` would strand the handles on
        # the discarded intermediate Stream and `unpersist()` on the
        # final stream could never release them. A branch (`split`)
        # shares the handles — releasing one branch forces the other to
        # recompute, never to return wrong results.
        s = Stream(self.ctx, df)
        s._retained.extend(self._retained)
        return s

    def _retain(self, *dfs: DataFrame) -> "Stream":
        self._retained.extend(dfs)
        return self

    # ------------------------------------------------------------------ #
    # element-wise (SURVEY.md §2.3)
    # ------------------------------------------------------------------ #

    def map(self, *exprs, **named) -> "Stream":
        """1→1 transform — renoir ``map`` (src/operator/mod.rs:551-556).

        Column/str expressions replace the element (``select``); keyword
        args alias expressions. For opaque Python logic use
        :meth:`map_batches` / :meth:`map_rows`.
        """
        return self._new(self.df.select(*named_cols(exprs, named)))

    def with_column(self, name: str, expr) -> "Stream":
        """Convenience: keep all columns, add/replace one."""
        return self._new(self.df.withColumn(name, to_col(expr)))

    def with_columns(self, **named) -> "Stream":
        return self._new(
            self.df.withColumns({n: to_col(e) for n, e in named.items()})
        )

    def map_batches(self, fn: Callable, schema) -> "Stream":
        """Arrow-vectorized map: ``fn(pandas.DataFrame) -> pandas.DataFrame``
        applied per batch via ``mapInPandas``. The slow path for logic no
        Column expression can state (renoir closures, SURVEY.md §2.11)."""

        def _iter(batches):
            for pdf in batches:
                yield fn(pdf)

        return self._new(self.df.mapInPandas(_iter, schema))

    def map_rows(self, fn: Callable, schema) -> "Stream":
        """Per-row Python map (renoir ``map`` with an opaque closure).
        Implemented on top of pandas batches; still Arrow-transferred."""

        import pandas as pd

        def _batch(pdf):
            return pd.DataFrame([fn(row) for row in pdf.to_dict("records")])

        return self.map_batches(_batch, schema)

    def map_memo(self, fn: Callable, schema, *, key_fn: Optional[Callable] = None,
                 capacity: int = 10_000) -> "Stream":
        """Memoized map — renoir ``map_memo_by``
        (src/operator/mod.rs:677-688, per-process cache): ``fn(row_dict)
        -> dict``, cached per executor by ``key_fn(row_dict)`` (renoir's
        ``fk``), defaulting to the NAME-AWARE ``sorted(row.items())`` —
        never the positional value tuple, which would silently alias
        rows across schema/column-order changes. FIFO eviction at
        ``capacity`` (a dict is insertion-ordered; renoir's cache is
        also a bounded per-process map)."""

        import pandas as pd

        def _batch(pdf, _holder=[]):
            # built lazily EXECUTOR-side so the cache is the per-process
            # cache renoir specifies (and never pickled with the plan)
            if not _holder:
                _holder.append({})
            cache = _holder[0]
            out = []
            for row in pdf.to_dict("records"):
                k = key_fn(row) if key_fn else tuple(sorted(row.items()))
                if k not in cache:
                    if len(cache) >= capacity:
                        cache.pop(next(iter(cache)))
                    cache[k] = fn(row)
                out.append(cache[k])
            return pd.DataFrame(out)

        return self.map_batches(_batch, schema)

    def filter(self, cond) -> "Stream":
        """Predicate — renoir ``filter`` (src/operator/mod.rs:409-414)."""
        return self._new(self.df.filter(to_col(cond)))

    def filter_map(self, *exprs, **named) -> "Stream":
        """map + drop nulls — renoir ``filter_map``
        (src/operator/mod.rs:384-390): project, then drop rows where every
        projected value is null (the ``None`` element)."""
        out = self.df.select(*named_cols(exprs, named))
        keep = None
        for c in out.columns:
            cond = F.col(c).isNotNull()
            keep = cond if keep is None else (keep | cond)
        return self._new(out.filter(keep) if keep is not None else out)

    def flat_map(self, expr, *keep, alias: str = "value") -> "Stream":
        """1→N — renoir ``flat_map`` (src/operator/mod.rs:1158-1166).
        ``expr`` must evaluate to an array; each element becomes a row.
        ``keep`` columns are carried alongside (renoir keeps nothing, but
        carrying context columns is the common relational need)."""
        cols = to_cols(keep) + [F.explode(to_col(expr)).alias(alias)]
        return self._new(self.df.select(*cols))

    def flatten(self, col: Optional[str] = None, alias: str = "value") -> "Stream":
        """Flatten iterable elements — renoir ``flatten``
        (src/operator/mod.rs:1210-1217). With one array column the column
        name may be omitted."""
        if col is None:
            array_cols = [
                f.name for f in self.df.schema.fields
                if f.dataType.typeName() == "array"
            ]
            if len(array_cols) != 1:
                raise ValueError("flatten() needs `col` unless exactly one array column")
            col = array_cols[0]
        return self._new(self.df.select(F.explode(F.col(col)).alias(alias)))

    def inspect(self, fn: Callable) -> "Stream":
        """Side-effect passthrough — renoir ``inspect``
        (src/operator/mod.rs:1060-1065). LAZY: ``fn(row_dict)`` runs on the
        executors per element when the plan executes (exactly renoir's
        contract), never at plan-build time. Output columns are unchanged."""
        schema = self.df.schema

        def _iter(batches):
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    fn(row)
                yield pdf

        return self._new(self.df.mapInPandas(_iter, schema))

    def rich_map_batches(self, make_state: Callable, fn: Callable, schema) -> "Stream":
        """Stateful per-partition map — renoir ``rich_map`` (FnMut,
        src/operator/mod.rs:524-532). ``make_state()`` builds fresh state
        per partition; ``fn(state, pdf) -> pdf`` sees batches in partition
        order. Semantics (matching renoir): state is per-replica
        (= per-partition) and cross-partition order is unspecified."""

        def _iter(batches):
            state = make_state()
            for pdf in batches:
                yield fn(state, pdf)

        return self._new(self.df.mapInPandas(_iter, schema))

    def rich_filter_map(self, make_state: Callable, fn: Callable, schema) -> "Stream":
        """Stateful filter-map — renoir ``rich_filter_map``
        (src/operator/mod.rs:461-467): ``fn(state, row_dict)`` returns an
        output dict or ``None`` to drop; state is per-partition."""

        import pandas as pd

        def _batch(state, pdf):
            rows = [r for r in (fn(state, row) for row in pdf.to_dict("records"))
                    if r is not None]
            return pd.DataFrame(rows)

        return self.rich_map_batches(make_state, _batch, schema)

    def rich_flat_map(self, make_state: Callable, fn: Callable, schema) -> "Stream":
        """Stateful 1→N map — renoir ``rich_flat_map``
        (src/operator/mod.rs:1104-1112): ``fn(state, row_dict)`` returns a
        list of output dicts; state is per-partition."""

        import pandas as pd

        def _batch(state, pdf):
            rows = [o for row in pdf.to_dict("records") for o in fn(state, row)]
            return pd.DataFrame(rows)

        return self.rich_map_batches(make_state, _batch, schema)

    def rich_map_custom(self, fn: Callable, schema) -> "Stream":
        """Raw per-partition operator hook — renoir ``rich_map_custom``
        (src/operator/mod.rs:1132-1138) sees the raw ``StreamElement``
        feed incl. watermarks; the batch analog is the raw Arrow batch
        iterator: ``fn(iterator_of_pandas) -> iterator_of_pandas``.
        End-of-iterator is the FlushAndRestart/Terminate signal.
        (Streaming watermark hooks need ``transformWithState`` — see
        streaming.py; documented divergence.)"""
        return self._new(self.df.mapInPandas(fn, schema))

    def map_async(self, fn: Callable, schema, *, concurrency: int = 4) -> "Stream":
        """Async enrichment map — renoir ``map_async``
        (src/operator/mod.rs:648-654, fixed 4-way concurrency): ``fn`` is
        an ``async def (row_dict) -> dict``; within each Arrow batch up to
        ``concurrency`` calls run concurrently on the executor (the shape
        for model/API calls in a data pipeline)."""

        import pandas as pd

        def _batch(pdf):
            import asyncio

            async def _run():
                sem = asyncio.Semaphore(concurrency)

                async def one(row):
                    async with sem:
                        return await fn(row)

                return await asyncio.gather(
                    *[one(r) for r in pdf.to_dict("records")]
                )

            return pd.DataFrame(asyncio.run(_run()))

        return self.map_batches(_batch, schema)

    def map_async_memo_by(self, fn: Callable, key_fn: Callable, schema, *,
                          concurrency: int = 4, capacity: int = 10_000) -> "Stream":
        """Memoized async map — renoir ``map_async_memo_by``
        (src/operator/mod.rs:585-627): results cached per executor by
        ``key_fn(row_dict)`` so repeated keys fire one call."""

        import pandas as pd

        cache: dict = {}

        def _batch(pdf):
            import asyncio

            async def _run(rows):
                sem = asyncio.Semaphore(concurrency)
                inflight: dict = {}

                async def one(row):
                    k = key_fn(row)
                    if k in cache:
                        return cache[k]
                    # duplicate keys inside one batch share ONE in-flight
                    # call (renoir's cache dedups concurrent hits too) —
                    # without this, same-key rows arriving together each
                    # fired fn and could even memoize different results
                    if k not in inflight:
                        async def compute(row=row):
                            async with sem:
                                return await fn(row)

                        inflight[k] = asyncio.ensure_future(compute())
                    out = await inflight[k]
                    if len(cache) < capacity:
                        cache[k] = out
                    return out

                return await asyncio.gather(*[one(r) for r in rows])

            return pd.DataFrame(asyncio.run(_run(pdf.to_dict("records"))))

        return self.map_batches(_batch, schema)

    # ------------------------------------------------------------------ #
    # keying / partitioning (SURVEY.md §2.4)
    # ------------------------------------------------------------------ #

    def key_by(self, *keys, **named_keys) -> "KeyedStream":
        """Attach key WITHOUT shuffle — renoir ``key_by``
        (src/operator/mod.rs:1039-1045; explicitly does not repartition,
        doc :1021-1023). Lazily identical in Spark: the shuffle happens
        only if a downstream op needs co-location."""
        from .keyed import KeyedStream

        df = self.df
        names = [k for k in keys if isinstance(k, str)]
        for k in keys:
            if not isinstance(k, str):
                raise TypeError("key_by takes column names; use group_by for exprs")
        for name, e in named_keys.items():
            df = df.withColumn(name, to_col(e))
            names.append(name)
        ks = KeyedStream(self.ctx, df, names)
        ks._retained.extend(self._retained)
        return ks

    def window_all(self, descr) -> "GlobalWindowedStream":
        """Window the WHOLE stream — renoir ``Stream::window_all``
        (src/operator/window/mod.rs:353-362): unit key + ``window(descr)``
        with the key dropped from outputs. Unlike the reference (which
        pins parallelism 1), the aggregation remains parallel via
        Catalyst's partial/final two-phase plan."""
        from .window import GlobalWindowedStream

        keyed = self.key_by(**{GlobalWindowedStream.UNIT: F.lit(0)})
        return GlobalWindowedStream(keyed.window(descr))

    def group_by(self, *keys, **named_keys) -> "KeyedStream":
        """Hash-shuffle by key — renoir ``group_by``
        (src/operator/mod.rs:1377-1387). Spark-first: we do NOT eagerly
        repartition; the downstream aggregation/join inserts the exchange
        (and Catalyst reuses it across keyed ops)."""
        return self.key_by(*keys, **named_keys)

    def shuffle(self, partitions: Optional[int] = None) -> "Stream":
        """Random redistribution — renoir ``shuffle``
        (src/operator/mod.rs:1943-1945) → round-robin ``repartition``.
        Default partition count = ``spark.sql.shuffle.partitions``."""
        if partitions is None:
            partitions = int(
                self.df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
        return self._new(self.df.repartition(partitions))

    def broadcast(self) -> "Stream":
        """Broadcast hint — renoir ``broadcast``
        (src/operator/mod.rs:1351-1353). Applies to the next join."""
        return self._new(F.broadcast(self.df))

    def replication(self, n: int) -> "Stream":
        """Cap parallelism — renoir ``replication``
        (src/operator/mod.rs:1761-1766) → ``coalesce`` (no shuffle)."""
        return self._new(self.df.coalesce(n))

    def repartition_by(self, n: Optional[int], *cols) -> "Stream":
        """Custom partitioner — renoir ``repartition_by``
        (src/operator/mod.rs:1786-1794)."""
        c = to_cols(cols)
        if n is None:
            return self._new(self.df.repartition(*c))
        return self._new(self.df.repartition(n, *c))

    def split(self, n: int, *, persist: bool = True) -> list["Stream"]:
        """Duplicate into n branches — renoir ``split``
        (src/operator/mod.rs:1965-1978). Persist so branches don't
        recompute the upstream plan."""
        df = self.df.persist() if persist else self.df
        return [self._new(df) for _ in range(n)]

    def route(self) -> "RouteBuilder":
        """Content-based routing — renoir ``route()``
        (src/operator/route.rs:33-56): element goes to the FIRST matching
        branch, else dropped."""
        return RouteBuilder(self)

    def merge(self, other: "Stream") -> "Stream":
        """Unordered union — renoir ``merge`` (src/operator/merge.rs:41-57)."""
        return self._new(self.df.unionByName(other.df))

    def zip(self, other: "Stream", *, order: Sequence, other_order: Sequence) -> "Stream":
        """Pairwise positional zip — renoir ``zip``
        (src/operator/mod.rs:2003-2017): truncates to the shorter side
        (renoir forces parallelism 1, mod.rs:1749). Spark-first:
        deterministic order columns + DISTRIBUTED global index (range
        partition → per-partition row_number + broadcast partition
        offsets), then an equi-join on the index. No single-task stage at
        any size — a 100 TB side still indexes in parallel."""
        left, lcache = _global_index(self.df, to_cols(order))
        right, rcache = _global_index(other.df, to_cols(other_order))
        overlap = set(left.columns) & set(right.columns) - {"__zip_idx"}
        for c in overlap:
            right = right.withColumnRenamed(c, f"{c}_r")
        out = left.join(right, "__zip_idx", "inner").drop("__zip_idx")
        return self._new(out)._retain(lcache, rcache)

    # ------------------------------------------------------------------ #
    # global aggregations (SURVEY.md §2.5) — terminal folds
    # ------------------------------------------------------------------ #

    def fold(self, *aggs, **named) -> "Stream":
        """Global fold — renoir ``fold``/``fold_assoc``
        (src/operator/mod.rs:725-780). Expression aggregates get Spark's
        partial+final HashAggregate automatically (the two-phase assoc
        fold renoir makes the user write by hand)."""
        return self._new(self.df.agg(*named_cols(aggs, named)))

    # renoir distinguishes fold/fold_assoc/reduce/reduce_assoc only by
    # closure shape; declaratively they are all .agg(...)
    fold_assoc = fold
    reduce = fold
    reduce_assoc = fold

    def fold_py(self, init, local_fn: Callable, global_fn: Callable):
        """Arbitrary-closure two-phase fold — renoir ``fold_assoc``
        (src/operator/mod.rs:771-780): ``local_fn(acc, row)`` per
        partition, ``global_fn(acc, acc)`` merging partials. Vectorized:
        an Arrow-batched ``mapInArrow`` partial fold emits one pickled
        accumulator per partition and the driver merges those
        <= num_partitions partials — the RDD-aggregate contract without
        the row-at-a-time Python pickling transfer path, and with EXACT
        value semantics (nullable longs reach the closure as int/None,
        never pandas' NaN/float64 coercion). Each partition
        (and the driver merge) starts from its own deep copy of ``init``,
        exactly like ``RDD.aggregate``'s zeroValue."""
        import copy
        import pickle

        partials = _fold_py_partials(self.df, init, local_fn).collect()
        acc = copy.deepcopy(init)
        for r in partials:
            acc = global_fn(acc, pickle.loads(bytes(r.acc)))
        return acc

    def unique_assoc(self) -> "Stream":
        """Distinct — renoir ``unique_assoc``
        (src/operator/mod.rs:951-979): local set → shuffle → global set,
        which is exactly Spark's partial-distinct plan."""
        return self._new(self.df.distinct())

    def unique_assoc_by_key(self, *key_cols, order: Optional[Sequence] = None) -> "Stream":
        """Distinct by derived key — renoir ``unique_assoc_by_key``
        (src/operator/mod.rs:986-1017) keeps an ARBITRARY element per key;
        pass ``order`` to keep the minimum by that order instead
        (deterministic, oracle-friendly)."""
        if order is None:
            return self._new(self.df.dropDuplicates(list(key_cols)))
        others = [c for c in self.df.columns if c not in key_cols]
        aggs = [
            F.min_by(F.col(c), F.struct(*to_cols(order))).alias(c) for c in others
        ]
        return self._new(self.df.groupBy(*key_cols).agg(*aggs))

    def fold_scan(self, agg_exprs: dict, map_fn: Callable[[dict], list]) -> "Stream":
        """Two-pass scan — renoir ``fold_scan``
        (src/operator/mod.rs:856-907): pass 1 computes a global aggregate,
        pass 2 maps every element with it. Spark-first: agg → broadcast
        cross-join (a 1-row build side) → select. ``map_fn`` receives a
        dict of {name: Column-of-the-aggregate} and returns output exprs."""
        agg_df = self.df.agg(
            *[to_col(e).alias(n) for n, e in agg_exprs.items()]
        )
        joined = self.df.crossJoin(F.broadcast(agg_df))
        cols = map_fn({n: F.col(n) for n in agg_exprs})
        return self._new(joined.select(*cols))

    reduce_scan = fold_scan

    # ------------------------------------------------------------------ #
    # grouped convenience aggregations (renoir group_by_* family)
    # ------------------------------------------------------------------ #

    def group_by_count(self, *keys) -> "Stream":
        """renoir ``group_by_count`` (src/operator/mod.rs:1594-1605)."""
        return self._new(self.df.groupBy(*to_cols(keys)).agg(F.count("*").alias("count")))

    def group_by_sum(self, keys, value) -> "Stream":
        """renoir ``group_by_sum`` (src/operator/mod.rs:1467-1498)."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        return self._new(
            self.df.groupBy(*to_cols(keys)).agg(F.sum(to_col(value)).alias("sum"))
        )

    def group_by_avg(self, keys, value) -> "Stream":
        """renoir ``group_by_avg`` (src/operator/mod.rs:1531-1565)."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        return self._new(
            self.df.groupBy(*to_cols(keys)).agg(F.avg(to_col(value)).alias("avg"))
        )

    def group_by_count_distinct(self, keys, value, *, exact: bool = True,
                                rsd: float = 0.05,
                                alias: str = "n_distinct") -> "Stream":
        """Grouped distinct counts (beyond-reference, completes the agg
        family beside the KMV sketch operator). ``exact=True`` is the
        oracle-checkable path (distinct-shuffle per group);
        ``exact=False`` switches to HyperLogLog++
        (``approx_count_distinct``): fixed-size mergeable sketch state,
        map-side combinable, ``rsd`` = relative standard deviation dial
        — the 100 TB default, same query shape."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        v = to_col(value)
        agg = (
            F.count_distinct(v) if exact
            else F.approx_count_distinct(v, rsd=rsd)
        )
        return self._new(
            self.df.groupBy(*to_cols(keys)).agg(agg.alias(alias))
        )

    def group_by_quantiles(self, keys, value, probs, *, exact: bool = True,
                           accuracy: int = 10000) -> "Stream":
        """Grouped quantiles (beyond-reference; renoir users hand-roll
        this with fold). ``probs`` is ``{col_name: probability}``.

        ``exact=True`` runs Spark's exact ``percentile`` (linear
        interpolation — bit-identical to DuckDB ``quantile_cont``, which
        is why the suite oracle can verify it). Exact percentile buffers
        each group's values in the aggregation state, so for 100 TB
        groups flip ``exact=False``: ``approx_percentile`` (a
        Greenwald-Khanna sketch, bounded memory, mergeable map-side) with
        ``accuracy`` as the error dial — same query shape, sketch-sized
        state."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        names = list(probs)
        ps = F.array(*[F.lit(float(probs[n])) for n in names])
        v = to_col(value)
        agg = (
            F.percentile(v, ps) if exact
            else F.percentile_approx(v, ps, F.lit(accuracy))
        )
        return self._new(
            self.df.groupBy(*to_cols(keys))
            .agg(agg.alias("__qs"))
            .select(
                *keys,
                *[F.col("__qs")[i].alias(n) for i, n in enumerate(names)],
            )
        )

    def group_by_rollup(self, keys, **aggs) -> "Stream":
        """Hierarchical subtotals (beyond-reference — SURVEY §2.5 notes
        renoir has no grouping sets; Spark gives them free): one pass
        emits per-(k1,k2,...) rows plus each prefix's subtotal and the
        grand total, grouping columns NULL on subtotal rows (q91).
        Scale: Spark expands grouping sets BEFORE the shuffle, so it is
        still a single partial/final hash aggregate — not one job per
        level.

        Documented divergence: on an EMPTY input Spark emits zero rows,
        while the SQL standard (and DuckDB) emit the grand-total row
        (count 0) for the ``()`` grouping set — pinned in
        tests/test_edges.py. Matching it would cost a second full
        aggregation of the input just for the empty case."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        return self._new(
            self.df.rollup(*to_cols(keys)).agg(
                *[to_col(e).alias(n) for n, e in aggs.items()]
            )
        )

    def group_by_cube(self, keys, **aggs) -> "Stream":
        """All grouping-set combinations (see :meth:`group_by_rollup`)."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        return self._new(
            self.df.cube(*to_cols(keys)).agg(
                *[to_col(e).alias(n) for n, e in aggs.items()]
            )
        )

    def group_by_max_element(self, keys, by) -> "Stream":
        """Arg-max whole element — renoir ``group_by_max_element``
        (src/operator/mod.rs:1418-1434) → ``max_by(struct(*), by)``."""
        return self._arg_extreme(keys, by, F.max_by)

    def group_by_min_element(self, keys, by) -> "Stream":
        """renoir ``group_by_min_element`` (src/operator/mod.rs:1636-1652)."""
        return self._arg_extreme(keys, by, F.min_by)

    def _arg_extreme(self, keys, by, agg) -> "Stream":
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        for k in keys:
            if not isinstance(k, str):
                raise TypeError(
                    "group_by_max/min_element take column NAMES as keys "
                    "(Column exprs would be dropped from the output schema); "
                    "use key_by(name=expr).max_element(...) for expressions"
                )
        others = [c for c in self.df.columns if c not in keys]
        picked = agg(F.struct(*[F.col(c) for c in others]), to_col(by)).alias("__e")
        out = self.df.groupBy(*keys).agg(picked)
        return self._new(out.select(*[F.col(k) for k in keys],
                                    *[F.col(f"__e.{c}").alias(c) for c in others]))

    def group_by_fold(self, keys, *aggs, **named) -> "Stream":
        """renoir ``group_by_fold`` (src/operator/mod.rs:822-854): local
        pre-agg → shuffle partials → final — Catalyst's partial/final
        HashAggregate, stated declaratively."""
        keys = [keys] if isinstance(keys, (str, Column)) else list(keys)
        return self._new(self.df.groupBy(*to_cols(keys)).agg(*named_cols(aggs, named)))

    group_by_reduce = group_by_fold

    # ------------------------------------------------------------------ #
    # joins (SURVEY.md §2.6) — see joins.py for the builder
    # ------------------------------------------------------------------ #

    def join(self, other: "Stream", on, *, how: str = "inner") -> "Stream":
        """Inner equi-join — renoir ``join``
        (src/operator/join/mod.rs:115-131). ``on`` is a column name, list
        of names, or a join Column condition."""
        return self._new(self.df.join(other.df, on, how))

    def join_salted(self, other: "Stream", on, *, salt: int = 8,
                    how: str = "inner") -> "Stream":
        """Skew-proof equi-join — same RESULT as :meth:`join`, different
        execution: the left (large, skewed) side gains a uniform salt in
        ``[0, salt)``, the right side is replicated ``salt`` times via an
        exploded sequence, and the join runs on ``(keys…, salt)`` — so a
        single hot key's rows spread over ``salt`` tasks instead of one
        straggler. Use when a specific key's frequency beats what AQE's
        skew-join splitting handles (renoir shards keys by hash and has
        the same hot-key problem, src/network/topology.rs routing).

        ``salt`` multiplies the RIGHT side's shuffle volume — size it to
        the skew, not to the cluster. inner/left only: a replicated right
        row would report ``salt − 1`` false "unmatched" copies under
        right/full semantics.
        """
        if how not in ("inner", "left"):
            raise ValueError(f"join_salted supports inner/left, got {how!r}")
        keys = [on] if isinstance(on, str) else list(on)
        left = self.df.withColumn(
            "__salt", F.floor(F.rand(42) * salt).cast("int")
        )
        right = other.df.select(
            "*",
            F.explode(
                F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int"))
            ).alias("__salt"),
        )
        out = left.join(right, keys + ["__salt"], how).drop("__salt")
        return self._new(out)

    def left_join(self, other: "Stream", on) -> "Stream":
        """renoir ``left_join`` (src/operator/join/mod.rs:163-179)."""
        return self.join(other, on, how="left")

    def outer_join(self, other: "Stream", on) -> "Stream":
        """renoir ``outer_join`` (src/operator/join/mod.rs:212-228)."""
        return self.join(other, on, how="full")

    def join_with(self, other: "Stream", left_on, right_on) -> "JoinBuilder":
        """Strategy builder — renoir ``join_with(...)``
        (src/operator/join/mod.rs:230-246): ship {hash, broadcast_right} ×
        local {hash, sort_merge} × variant {inner, left, outer} map to
        Spark join hints."""
        from .joins import JoinBuilder

        return JoinBuilder(self, other, left_on, right_on)

    def interval_join(
        self,
        other: "Stream",
        *,
        left_ts,
        right_ts,
        lower: float,
        upper: float,
        on: Optional[Sequence[str]] = None,
        how: str = "inner",
    ) -> "Stream":
        """Event-time band join — renoir ``interval_join``
        (src/operator/mod.rs:1738-1755, impl interval_join.rs:12-42):
        left ts T matches right ts Q with ``T - lower <= Q <= T + upper``.

        Scale design: a naive theta-join is a cartesian blow-up. We
        equi-join on (keys, time-bucket) with bucket width = band width,
        exploding the LEFT side to the ≤2 buckets its band can touch, so
        Spark executes a plain shuffled equi-join + residual filter.
        renoir instead forces parallelism 1 (mod.rs:1749) — this version
        stays fully parallel.

        Non-inner variants: the bucket explosion would make a bare outer
        join unsound (a left row matching in only one of its two bucket
        copies would still emit a spurious null row for the other), so
        ``left``/``full`` run the bucketed INNER join and re-unite
        unmatched originals via anti-joins on a pre-explode row id.
        """
        if how not in ("inner", "left", "full"):
            raise ValueError(f"interval_join supports inner/left/full, got {how!r}")
        lower = int(round(lower * 1_000_000))
        upper = int(round(upper * 1_000_000))
        width = int(lower + upper) or 1
        lts = ts_micros(left_ts).alias("__lts")
        rts = ts_micros(right_ts).alias("__rts")

        left0 = self.df.withColumn("__lts", lts)
        right0 = other.df.withColumn("__rts", rts)
        overlap = set(left0.columns) & set(right0.columns)
        for c in overlap:
            right0 = right0.withColumnRenamed(c, f"{c}_r")
        on = list(on or [])
        retained = []
        if how != "inner":
            # the row ids feed BOTH the inner join and the anti-join
            # complement; monotonically_increasing_id is only stable for
            # a fixed partition layout, so PIN it by persisting the
            # stamped frames — an AQE re-plan or source re-list between
            # the two subtree evaluations can otherwise mis-align the
            # complement (VERDICT r2 'what's wrong' #5)
            left0 = left0.withColumn(
                "__lid", F.monotonically_increasing_id()
            ).persist()
            right0 = right0.withColumn(
                "__rid", F.monotonically_increasing_id()
            ).persist()
            retained = [left0, right0]

        left = left0.withColumn(
            "__bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor((F.col("__lts") - F.lit(lower)) / F.lit(width)),
                        F.floor((F.col("__lts") + F.lit(upper)) / F.lit(width)),
                    )
                )
            ),
        )
        right = right0.withColumn("__bucket", F.floor(F.col("__rts") / F.lit(width)))

        conds = [left["__bucket"] == right["__bucket"]]
        for k in on:
            rk = f"{k}_r" if f"{k}_r" in right.columns else k
            conds.append(left[k] == right[rk])
        band = (F.col("__rts") >= F.col("__lts") - F.lit(lower)) & (
            F.col("__rts") <= F.col("__lts") + F.lit(upper)
        )
        cond = functools.reduce(lambda a, b: a & b, conds)
        inner = left.join(right, cond & band, "inner").drop("__bucket")

        if how == "inner":
            out = inner
        else:
            rcols = [c for c in right0.columns if c != "__rid"]
            lcols = [c for c in left0.columns if c != "__lid"]
            # left complement: originals whose id matched nothing
            lmiss = left0.join(
                inner.select("__lid").distinct(), "__lid", "left_anti"
            )
            for c in rcols:
                lmiss = lmiss.withColumn(c, F.lit(None))
            out = inner.select("__lid", "__rid", *lcols, *rcols).unionByName(
                lmiss.select("__lid", F.lit(None).alias("__rid"), *lcols, *rcols)
            )
            if how == "full":
                rmiss = right0.join(
                    inner.select("__rid").distinct(), "__rid", "left_anti"
                )
                for c in lcols:
                    rmiss = rmiss.withColumn(c, F.lit(None))
                out = out.unionByName(
                    rmiss.select(F.lit(None).alias("__lid"), "__rid", *lcols, *rcols)
                )
        drop = ["__lts", "__rts", "__bucket", "__lid", "__rid"] + [
            f"{k}_r" for k in on if f"{k}_r" in right0.columns
        ]
        for c in drop:
            out = out.drop(c)
        return self._new(out)._retain(*retained)

    def asof_join(
        self,
        other: "Stream",
        *,
        left_ts,
        right_ts,
        on: Optional[Sequence[str]] = None,
        direction: str = "backward",
        tolerance: Optional[float] = None,
        how: str = "left",
        matched_ts_col: str = "matched_ts",
    ) -> "Stream":
        """Point-in-time (as-of) join — pipeline extension beyond renoir's
        operator set (renoir covers the band shape via ``interval_join``,
        src/operator/mod.rs:1738-1755; the as-of "most recent prior row"
        shape is the standard feature-store / training-data primitive).

        For each left row, attach the single right row with the greatest
        ``right_ts <= left_ts`` (``direction='backward'``, inclusive) or
        the smallest ``right_ts >= left_ts`` (``'forward'``) among rows
        sharing the equality keys ``on``. ``tolerance`` (seconds) bounds
        the gap; out-of-tolerance matches become NULLs (``how='left'``)
        or are dropped (``how='inner'``).

        Scale design: NOT a range join (which Catalyst can only execute
        as a per-key cross + filter). Both sides are unioned with a side
        marker and a single ``last(payload_struct, ignorenulls) OVER
        (PARTITION BY keys ORDER BY ts, side)`` carries the latest right
        payload forward — one shuffle + one sort, linear in rows, same
        plan shape at 100 TB. Right rows sort BEFORE left rows at equal
        ts, so the bound is inclusive. Ties among right rows at the same
        (key, ts) break deterministically by the packed payload struct's
        lexicographic order.
        """
        if direction not in ("backward", "forward"):
            raise ValueError(f"direction must be backward/forward, got {direction!r}")
        if how not in ("left", "inner"):
            raise ValueError(f"asof_join supports left/inner, got {how!r}")
        keys = list(on or [])

        lts = ts_micros(left_ts)
        rts = ts_micros(right_ts)
        left0 = self.df.withColumn("__ats", lts)
        right0 = other.df.withColumn("__ats", rts)
        # SQL join semantics: NULL keys never match. The window
        # partitioning below WOULD group NULL keys together, so drop
        # NULL-keyed right rows up front (NULL-keyed left rows still
        # flow through and come out unmatched, exactly like a left join
        # and the DuckDB ASOF oracle).
        for k in keys:
            right0 = right0.filter(F.col(k).isNotNull())
        # ASOF semantics (SQL/DuckDB): a NULL timestamp never matches.
        # NULL-ts right rows are dropped up front; NULL-ts left rows are
        # ordered before every right row (nulls-first in BOTH directions)
        # so last(ignorenulls) sees no right payload for them.
        right0 = right0.filter(F.col("__ats").isNotNull())
        payload = [c for c in right0.columns if c not in keys and c != "__ats"]
        # pack the right payload (+ its event time, for the tolerance
        # check) into ONE struct so every output column comes from the
        # SAME matched row — per-column last(ignorenulls) could otherwise
        # mix rows when the right payload itself contains NULLs
        right_u = right0.select(
            *keys,
            F.col("__ats"),
            F.lit(0).alias("__side"),
            F.struct(F.col("__ats").alias("__rts"), *payload).alias("__rpay"),
        )
        left_u = left0.select(
            "*", F.lit(1).alias("__side"), F.lit(None).alias("__rpay")
        )
        both = right_u.unionByName(left_u, allowMissingColumns=True)

        # deterministic tie-break among right rows at equal (key, ts):
        # order by the ORDERABLE payload columns only — a map-typed
        # payload column can ride along as data but cannot appear in an
        # ORDER BY (AnalysisException), and ties only need determinism
        rtypes = dict(right0.dtypes)
        orderable = [c for c in payload if "map<" not in rtypes[c]]
        tie = F.struct(*[F.col(f"__rpay.{c}") for c in orderable]) if orderable else None
        if direction == "backward":
            order = [F.col("__ats").asc(), F.col("__side").asc()]
            order += [tie.asc()] if tie is not None else []
        else:
            order = [F.col("__ats").desc_nulls_first(), F.col("__side").asc()]
            order += [tie.desc()] if tie is not None else []
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = both.withColumn(
            "__m", F.last("__rpay", ignorenulls=True).over(w)
        ).filter(F.col("__side") == 1)

        if tolerance is not None:
            tol = int(round(tolerance * 1_000_000))
            if direction == "backward":
                ok = F.col("__m.__rts") >= F.col("__ats") - F.lit(tol)
            else:
                ok = F.col("__m.__rts") <= F.col("__ats") + F.lit(tol)
            matched = matched.withColumn(
                "__m", F.when(ok, F.col("__m")).otherwise(F.lit(None))
            )
        if how == "inner":
            matched = matched.filter(F.col("__m").isNotNull())

        out = matched
        lcols = set(self.df.columns)
        for c in payload:
            name = f"{c}_r" if c in lcols else c
            out = out.withColumn(name, F.col(f"__m.{c}"))
        out = out.withColumn(
            matched_ts_col, F.timestamp_micros(F.col("__m.__rts"))
        )
        out = out.drop("__ats", "__side", "__rpay", "__m")
        return self._new(out)

    # ------------------------------------------------------------------ #
    # iteration (SURVEY.md §2.9) — driver loops, see iteration.py
    # ------------------------------------------------------------------ #

    def iterate(self, num_iterations: int, initial_state, body: Callable,
                state_update: Callable, loop_condition: Optional[Callable] = None,
                **loop_confs):
        """Feedback loop — renoir ``iterate``
        (src/operator/iteration/iterate.rs:306-439). Returns
        ``(final_state, last_iteration_stream)``; see iteration.py
        (``adaptive`` / ``shuffle_partitions`` loop tuning included)."""
        from .iteration import iterate as _iterate

        return _iterate(self, num_iterations, initial_state, body,
                        state_update, loop_condition, **loop_confs)

    def replay(self, num_iterations: int, initial_state, body: Callable,
               state_update: Callable, loop_condition: Optional[Callable] = None,
               **loop_confs):
        """Replay loop — renoir ``replay``
        (src/operator/iteration/replay.rs:256-300). Returns the final
        state; the input is cached and re-fed every iteration."""
        from .iteration import replay as _replay

        return _replay(self, num_iterations, initial_state, body,
                       state_update, loop_condition, **loop_confs)

    # ------------------------------------------------------------------ #
    # sort / limit / top-k (SURVEY.md §2.7)
    # ------------------------------------------------------------------ #

    def sorted_by(self, *cols) -> "Stream":
        """Global sort — renoir ``sorted_by``
        (src/operator/mod.rs:1243-1248). Spark range-partitions + sorts
        (distributed; renoir buffers on one replica)."""
        return self._new(self.df.orderBy(*to_cols(cols)))

    def limit(self, n: int, offset: int = 0) -> "Stream":
        """renoir ``limit(n, offset)`` (src/operator/mod.rs:1276-1286) —
        order unspecified unless sorted upstream."""
        df = self.df.offset(offset) if offset else self.df
        return self._new(df.limit(n))

    def sorted_limit_by(self, cols, n: int, offset: int = 0,
                        *, per=None) -> "Stream":
        """Top-k — renoir ``sorted_limit_by``
        (src/operator/mod.rs:1317-1327) → TakeOrderedAndProject.
        ``per``: group column(s) for per-GROUP top-k (rolling-top-words
        shape, examples/rolling_top_words.rs) — one partitioned
        row_number, partial-ranked per partition before the shuffle."""
        cols = [cols] if isinstance(cols, (str, Column)) else list(cols)
        if per is not None:
            per = [per] if isinstance(per, (str, Column)) else list(per)
            if offset:
                raise ValueError("offset is not supported with per-group top-k")
            w = Window.partitionBy(*to_cols(per)).orderBy(*to_cols(cols))
            out = (
                self.df.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= n)
                .drop("__rk")
            )
            return self._new(out)
        return self.sorted_by(*cols).limit(n, offset)

    # ------------------------------------------------------------------ #
    # LLM-data-pipeline operators (north star; datapipe.py)
    # ------------------------------------------------------------------ #

    def dedup_exact(self, text_col: str, *, order: Sequence) -> "Stream":
        """Exact content dedup (normalize → sha2 key → keep min-order row).
        See datapipe.dedup_exact for the scale notes."""
        from .datapipe import dedup_exact as _dd

        return _dd(self, text_col, order=order)

    def dedup_against(self, reference: "Stream", text_col: str,
                      ref_text_col: Optional[str] = None) -> "Stream":
        """Cross-corpus exact dedup (decontamination): drop rows whose
        normalized content appears in ``reference``. See
        datapipe.dedup_against for the scale notes."""
        from .datapipe import dedup_against as _da

        return _da(self, reference, text_col, ref_text_col)

    def dedup_against_bloom(self, reference: "Stream", text_col: str,
                            ref_text_col: Optional[str] = None,
                            **kw) -> "Stream":
        """Decontamination via a broadcast Bloom prefilter + exact
        confirm — bit-identical to ``dedup_against``, but the reference
        rides to executors as a bit array (~10 bits/key) and clean rows
        never shuffle. See datapipe.dedup_against_bloom."""
        from .datapipe import dedup_against_bloom as _dab

        return _dab(self, reference, text_col, ref_text_col, **kw)

    def decontaminate_embedding(self, reference: "Stream", vec_col: str,
                                ref_vec_col: Optional[str] = None,
                                **kw) -> "Stream":
        """Embedding-space decontamination: drop rows cosine-similar to
        any reference vector (broadcast array, map-side EXISTS, zero
        shuffles). See datapipe.decontaminate_embedding."""
        from .datapipe import decontaminate_embedding as _de

        return _de(self, reference, vec_col, ref_vec_col, **kw)

    def dedup_minhash(self, text_col: str, id_col: str, **kw) -> "Stream":
        """MinHash-LSH near-duplicate dedup — banded bucket-join, never
        all-pairs. See datapipe.dedup_minhash."""
        from .datapipe import dedup_minhash as _dm

        return _dm(self, text_col, id_col, **kw)

    def minhash_pairs(self, text_col: str, id_col: str, **kw) -> "Stream":
        """Jaccard-verified MinHash-LSH near-duplicate pairs
        (ida, idb, jac). See datapipe.minhash_pairs."""
        from .datapipe import minhash_pairs as _mp

        return _mp(self, text_col, id_col, **kw)

    def dedup_cluster_minhash(self, text_col: str, id_col: str, **kw) -> "Stream":
        """Cluster-level fuzzy dedup: MinHash pairs → connected
        components → canonical doc per cluster. See
        datapipe.dedup_cluster_minhash."""
        from .datapipe import dedup_cluster_minhash as _dc

        return _dc(self, text_col, id_col, **kw)

    def duplicate_span_fraction(self, text_col: str, id_col: str, **kw) -> "Stream":
        """Fraction of each doc's distinct n-grams shared with other
        docs (span-level duplication signal). See
        datapipe.duplicate_span_fraction."""
        from .datapipe import duplicate_span_fraction as _df_

        return _df_(self, text_col, id_col, **kw)

    def longest_duplicate_span(self, text_col: str, id_col: str, **kw) -> "Stream":
        """EXACT longest duplicated word-span per document (generalized
        suffix automaton per hash group — the true substring-dedup
        signal duplicate_span_fraction approximates). See
        datapipe.longest_duplicate_span."""
        from .datapipe import longest_duplicate_span as _ls

        return _ls(self, text_col, id_col, **kw)

    def chunk_dedup(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Chunk-level exact dedup with document reassembly. See
        prep.chunk_dedup."""
        from .prep import chunk_dedup as _cd

        return _cd(self, id_col, text_col, **kw)

    def chunk_dedup_cdc(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Chunk dedup with CONTENT-DEFINED boundaries (insertion-robust
        — boundaries re-synchronize at anchor tokens). See
        prep.chunk_dedup_cdc."""
        from .prep import chunk_dedup_cdc as _cdc

        return _cdc(self, id_col, text_col, **kw)

    def drop_common_chunks(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Corpus-frequency boilerplate removal: drop EVERY occurrence
        of chunks shared by >= max_df distinct documents, reassemble.
        See prep.drop_common_chunks."""
        from .prep import drop_common_chunks as _dc

        return _dc(self, id_col, text_col, **kw)

    def cap_per_group(self, id_col: str, group_col: str, cap: int,
                      **kw) -> "Stream":
        """Deterministic per-group (per-domain) document cap by salted
        hash rank. See prep.cap_per_group."""
        from .prep import cap_per_group as _cp

        return _cp(self, id_col, group_col, cap, **kw)

    def shard_by_tokens(self, id_col: str, ntok_col: str,
                        n_shards: int) -> "Stream":
        """Token-balanced serpentine shard assignment (adds ``shard``).
        See prep.shard_by_tokens."""
        from .prep import shard_by_tokens as _sb

        return _sb(self, id_col, ntok_col, n_shards)

    def write_training_shards(self, path: str, id_col: str, ntok_col: str,
                              n_shards: int, **kw) -> "Stream":
        """Write token-balanced training shards partitioned by ``shard``;
        returns the per-shard manifest. See prep.write_training_shards."""
        from .prep import write_training_shards as _wt

        return _wt(self, path, id_col, ntok_col, n_shards, **kw)

    def dedup_url(self, id_col: str, url_col: str) -> "Stream":
        """Exact dedup on the canonical URL (min-id survivor + collapse
        count). See prep.dedup_url / prep.canonical_url."""
        from .prep import dedup_url as _du

        return _du(self, id_col, url_col)

    def split_sentences(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Sentence segmentation: one row per (trimmed, length-gated)
        sentence with a 0-based index. See prep.split_sentences."""
        from .prep import split_sentences as _ss

        return _ss(self, id_col, text_col, **kw)

    def temperature_mix(self, id_col: str, group_col: str, **kw) -> "Stream":
        """Temperature-based mix rebalancing (shares ∝ n^(1/T), derived
        from the data). See prep.temperature_mix."""
        from .prep import temperature_mix as _tm

        return _tm(self, id_col, group_col, **kw)

    def split_long_docs(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Sliding-window splitting of long docs into overlapping
        full-length training windows. See prep.split_long_docs."""
        from .prep import split_long_docs as _sl

        return _sl(self, id_col, text_col, **kw)

    def sentence_dedup(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Sentence-level exact dedup with in-order document reassembly
        (first occurrence wins). See prep.sentence_dedup."""
        from .prep import sentence_dedup as _sd

        return _sd(self, id_col, text_col, **kw)

    def take_token_budget(self, ntok_col: str, budget: int, *, order) -> "Stream":
        """Greedy token-budget fill in priority order (skew-proof global
        prefix sum). See prep.take_token_budget."""
        from .prep import take_token_budget as _tb

        return _tb(self, ntok_col, budget, order=order)

    def epoch_shuffle(self, id_col: str, **kw) -> "Stream":
        """Deterministic seeded global shuffle order (+ optional
        round-robin shard assignment) for reproducible training epochs.
        See prep.epoch_shuffle."""
        from .prep import epoch_shuffle as _es

        return _es(self, id_col, **kw)

    def filter_by_score_quantile(self, score_col: str, lo: float, hi: float,
                                 **kw) -> "Stream":
        """Quantile-band selection (keep the middle of the score
        distribution). See prep.filter_by_score_quantile."""
        from .prep import filter_by_score_quantile as _fq

        return _fq(self, score_col, lo, hi, **kw)

    def filter_urls(self, url_col: str, **kw) -> "Stream":
        """URL blocklist filter (hosts / registrable domains / regex
        patterns, map-side). See prep.filter_urls."""
        from .prep import filter_urls as _fu

        return _fu(self, url_col, **kw)

    def filter_urls_against(self, blocklist, url_col: str, **kw) -> "Stream":
        """URL blocklist filter against a blocklist relation via
        broadcast anti-join. See prep.filter_urls_against."""
        from .prep import filter_urls_against as _fua

        return _fua(self, blocklist, url_col, **kw)

    def dedup_simhash(self, text_col: str, id_col: str, **kw) -> "Stream":
        """SimHash near-dup dedup — byte-band buckets + Hamming verify.
        See datapipe.dedup_simhash."""
        from .datapipe import dedup_simhash as _ds

        return _ds(self, text_col, id_col, **kw)

    def dedup_phash(self, features_col: str, id_col: str, **kw) -> "Stream":
        """Perceptual-hash near-dup dedup for decoded media features
        (aHash/pHash thresholding → banded Hamming buckets). See
        datapipe.dedup_phash."""
        from .datapipe import dedup_phash as _dp

        return _dp(self, features_col, id_col, **kw)

    def dedup_phash_against(self, reference: "Stream", features_col: str,
                            **kw) -> "Stream":
        """Media decontamination: drop items whose perceptual hash is
        within Hamming distance of any REFERENCE item's hash (broadcast
        signature array, zero corpus shuffles). See
        datapipe.dedup_phash_against."""
        from .datapipe import dedup_phash_against as _dpa

        return _dpa(self, reference, features_col, **kw)

    def similar_pairs_ngram(self, text_col: str, id_col: str, **kw) -> "Stream":
        """n-gram Jaccard similarity join via inverted index with a
        document-frequency cutoff. See datapipe.similar_pairs_ngram."""
        from .datapipe import similar_pairs_ngram as _sp

        return _sp(self, text_col, id_col, **kw)

    def dedup_cluster_exact(self, text_col: str, id_col: str, **kw) -> "Stream":
        """Cluster-level EXACT fuzzy dedup (lossless pairs → connected
        components → canonical per cluster). See
        datapipe.dedup_cluster_exact."""
        from .datapipe import dedup_cluster_exact as _dce

        return _dce(self, text_col, id_col, **kw)

    def similar_pairs_exact(self, text_col: str, id_col: str, **kw) -> "Stream":
        """EXACT threshold Jaccard similarity join via lossless prefix
        filtering (AllPairs/PPJoin family) — no df cutoff, no LSH
        false negatives. See datapipe.similar_pairs_exact."""
        from .datapipe import similar_pairs_exact as _spe

        return _spe(self, text_col, id_col, **kw)

    def containment_pairs_exact(self, text_col: str, id_col: str,
                                **kw) -> "Stream":
        """EXACT directed containment join (|A∩B|/|A| ≥ t): the
        sub-document duplication detector Jaccard misses when sizes are
        asymmetric. See datapipe.containment_pairs_exact."""
        from .datapipe import containment_pairs_exact as _cpe

        return _cpe(self, text_col, id_col, **kw)

    def diversity_sample(self, **kw) -> "Stream":
        """Cluster-balanced sampling: per-IVF-cell deterministic quota
        over an embedding column. See datapipe.diversity_sample."""
        from .datapipe import diversity_sample as _dvs

        return _dvs(self, **kw)

    def dedup_embedding(self, **kw) -> "Stream":
        """Embedding-cosine near-dup dedup via sign-LSH buckets.
        See datapipe.dedup_embedding."""
        from .datapipe import dedup_embedding as _de

        return _de(self, **kw)

    def dedup_embedding_ivf(self, **kw) -> "Stream":
        """Semantic dedup via IVF Voronoi cells (SemDeDup shape) —
        geometry-following candidate cells instead of hyperplane signs.
        See datapipe.dedup_embedding_ivf."""
        from .datapipe import dedup_embedding_ivf as _dei

        return _dei(self, **kw)

    def mine_contrastive_pairs(self, **kw) -> "Stream":
        """Contrastive training pairs from the corpus geometry:
        positives = would-be SemDeDup drops, hard negatives = closest
        same-cell non-duplicates. See datapipe.mine_contrastive_pairs."""
        from .datapipe import mine_contrastive_pairs as _mcp

        return _mcp(self, **kw)

    def text_stats(self, text_col: str) -> "Stream":
        """Token/char counts, ratios, fingerprint, quality score — pure
        expressions. See datapipe.text_stats."""
        from .datapipe import text_stats as _ts

        return _ts(self, text_col)

    def lang_id(self, text_col: str, alias: str = "pred_lang") -> "Stream":
        """Heuristic stopword-scoring language id. See datapipe.lang_id."""
        from .datapipe import lang_id as _li

        return _li(self, text_col, alias)

    def token_count(self, text_col: str) -> "Stream":
        """Whitespace + BPE-ish-regex token counts per row — pure
        expressions. See datapipe.token_count."""
        from .datapipe import token_count as _tc

        return _tc(self, text_col)

    def approx_distinct_kmv(self, col, *, k: int = 256,
                            alias: str = "approx_distinct") -> "Stream":
        """KMV distinct-count sketch — datapipe.approx_distinct_kmv."""
        from .datapipe import approx_distinct_kmv as _kmv

        return _kmv(self, col, k=k, alias=alias)

    def heavy_hitters(self, key_col, k: int, *, capacity: Optional[int] = None,
                      cnt_alias: str = "cnt") -> "Stream":
        """Exact top-k most frequent keys via a two-pass Misra-Gries
        sketch (bounded per-partition counters + exact recount of the
        candidate set). See datapipe.heavy_hitters."""
        from .datapipe import heavy_hitters as _hh

        return _hh(self, key_col, k, capacity=capacity, cnt_alias=cnt_alias)

    def fingerprint_winnow(self, text_col: str, id_col: str, **kw) -> "Stream":
        """Winnowing rolling-hash fingerprints, exploded (id, fp) pairs.
        See datapipe.fingerprint_winnow."""
        from .datapipe import fingerprint_winnow as _fw

        return _fw(self, text_col, id_col, **kw)

    # ------------------------------------------------------------------ #
    # training-data preparation operators (prep.py)
    # ------------------------------------------------------------------ #

    def pii_redact(self, text_col: str, **kw) -> "Stream":
        """Regex PII redaction with per-kind match counts — prep.pii_redact."""
        from .prep import pii_redact as _pr

        return _pr(self, text_col, **kw)

    def quality_gopher(self, text_col: str, **kw) -> "Stream":
        """Gopher-rule quality metrics + keep flag — prep.quality_gopher."""
        from .prep import quality_gopher as _qg

        return _qg(self, text_col, **kw)

    def repetition_stats(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Duplicate-word / top-n-gram repetition metrics —
        prep.repetition_stats."""
        from .prep import repetition_stats as _rs

        return _rs(self, id_col, text_col, **kw)

    def sample_fraction(self, id_col: str, fraction: float, **kw) -> "Stream":
        """Deterministic map-side fractional sample — prep.sample_fraction."""
        from .prep import sample_fraction as _sf

        return _sf(self, id_col, fraction, **kw)

    def fim_transform(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Fill-in-the-middle PSM reordering for a deterministic
        fraction of documents (code-infill training data) —
        prep.fim_transform."""
        from .prep import fim_transform as _fim

        return _fim(self, id_col, text_col, **kw)

    def word_entropy(self, id_col: str, text_col: str) -> "Stream":
        """Per-document token-distribution entropy (quality signal) —
        prep.word_entropy."""
        from .prep import word_entropy as _we

        return _we(self, id_col, text_col)

    def unigram_logprob(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Per-document mean token log-probability under a corpus-trained
        unigram LM (perplexity-style quality filter) —
        prep.unigram_logprob."""
        from .prep import unigram_logprob as _ul

        return _ul(self, id_col, text_col, **kw)

    def corpus_report(self, id_col: str, text_col: str, **kw) -> "Stream":
        """One-call dataset card: (metric, value) rows — size, exact-dup
        rate, Gopher pass rate, PII rate, language mix —
        prep.corpus_report (``exact_median=False`` for the GK-sketch
        median at unbounded length domains)."""
        from .prep import corpus_report as _cr

        return _cr(self, id_col, text_col, **kw)

    def bigram_logprob(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Per-document mean log-probability under a corpus-trained
        INTERPOLATED bigram LM (the KenLM-shaped filter; catches locally
        incoherent word order the unigram model is blind to) —
        prep.bigram_logprob."""
        from .prep import bigram_logprob as _bl

        return _bl(self, id_col, text_col, **kw)

    def bpe_train(self, text_col: str, **kw) -> "Stream":
        """Learn a BPE merge table from the corpus (deterministic
        Sennrich-style word-level BPE over the word-frequency relation)
        — prep.bpe_train."""
        from .prep import bpe_train as _bt

        return _bt(self, text_col, **kw)

    def bpe_segment(self, text_col: str, merge_rows, **kw) -> "Stream":
        """Apply a learned BPE merge table to every document (memoized
        Arrow-batched encoding) — prep.bpe_segment."""
        from .prep import bpe_segment as _bs

        return _bs(self, text_col, merge_rows, **kw)

    def sample_weighted(self, id_col: str, weight_expr, **kw) -> "Stream":
        """Deterministic per-row weighted sample (keep-probability =
        weight column, e.g. a quality score) — prep.sample_weighted."""
        from .prep import sample_weighted as _sw

        return _sw(self, id_col, weight_expr, **kw)

    def sample_weighted_k(self, id_col: str, weight_expr, k: int,
                          **kw) -> "Stream":
        """Exact-k weighted sample without replacement (A-Res) —
        prep.sample_weighted_k."""
        from .prep import sample_weighted_k as _swk

        return _swk(self, id_col, weight_expr, k, **kw)

    def sample_stratified(self, id_col: str, strata, quota: int,
                          **kw) -> "Stream":
        """Deterministic per-stratum quota sample — prep.sample_stratified."""
        from .prep import sample_stratified as _ss

        return _ss(self, id_col, strata, quota, **kw)

    def assign_split(self, id_col: str, weights, **kw) -> "Stream":
        """Deterministic train/val/test labels by hash range —
        prep.assign_split."""
        from .prep import assign_split as _as

        return _as(self, id_col, weights, **kw)

    def split_by_hash(self, id_col: str, weights, **kw):
        """Dict of disjoint split streams — prep.split_by_hash."""
        from .prep import split_by_hash as _sh

        return _sh(self, id_col, weights, **kw)

    def assign_split_by_group(self, group_col: str, weights,
                              **kw) -> "Stream":
        """Leakage-safe split labels hashed on a GROUP key (cluster id /
        domain), so near-duplicates co-split —
        prep.assign_split_by_group."""
        from .prep import assign_split_by_group as _ag

        return _ag(self, group_col, weights, **kw)

    def split_leakage(self, group_col: str, **kw) -> "Stream":
        """Audit: groups straddling >1 split (empty == leakage-free) —
        prep.split_leakage."""
        from .prep import split_leakage as _sl

        return _sl(self, group_col, **kw)

    def corpus_diff(self, old: "Stream", id_col: str, content_cols,
                    **kw) -> "Stream":
        """Snapshot diff vs an older corpus version (added / removed /
        changed by content hash) — datapipe.corpus_diff."""
        from .datapipe import corpus_diff as _cd

        return _cd(self, old, id_col, content_cols, **kw)

    def incremental_rebuild(self, old: "Stream", prev_output: "Stream",
                            id_col: str, content_cols,
                            transform) -> "Stream":
        """Reprocess only the snapshot delta (diff → transform added/
        changed → union with surviving previous output) —
        datapipe.incremental_rebuild."""
        from .datapipe import incremental_rebuild as _ir

        return _ir(self, old, prev_output, id_col, content_cols, transform)

    def corpus_overlap(self, other: "Stream", text_col: str,
                       **kw) -> "Stream":
        """Exact corpus-level shingle overlap statistics (1 row) —
        datapipe.corpus_overlap."""
        from .datapipe import corpus_overlap as _co

        return _co(self, other, text_col, **kw)

    def corpus_overlap_kmv(self, other: "Stream", text_col: str,
                           **kw) -> "Stream":
        """KMV-sketch overlap estimate (one pass per corpus, no key
        join) — datapipe.corpus_overlap_kmv."""
        from .datapipe import corpus_overlap_kmv as _ck

        return _ck(self, other, text_col, **kw)

    def hybrid_search(self, embs: "Stream", query_terms, query_vec_id,
                      **kw) -> "Stream":
        """BM25 + cosine reciprocal-rank-fusion retrieval —
        datapipe.hybrid_search."""
        from .datapipe import hybrid_search as _hs

        return _hs(self, embs, query_terms, query_vec_id, **kw)

    def rebalance_mix(self, id_col: str, group_col: str, targets,
                      **kw) -> "Stream":
        """Domain-mix rebalancing to target shares — prep.rebalance_mix."""
        from .prep import rebalance_mix as _rm

        return _rm(self, id_col, group_col, targets, **kw)

    def upsample_epochs(self, id_col: str, group_col: str, epochs,
                        **kw) -> "Stream":
        """Fractional-epoch corpus mixing (deterministic per-group
        replication, map-side explode) — prep.upsample_epochs."""
        from .prep import upsample_epochs as _ue

        return _ue(self, id_col, group_col, epochs, **kw)

    def dsir_weights(self, target, text_col: str, id_col: str,
                     **kw) -> "Stream":
        """Per-doc DSIR log importance weight (hashed n-gram target vs
        raw distributions; Xie et al. 2023) — prep.dsir_weights."""
        from .prep import dsir_weights as _dw

        return _dw(self, target, text_col, id_col, **kw)

    def dsir_select(self, target, text_col: str, id_col: str, k: int,
                    **kw) -> "Stream":
        """Importance-resample k docs toward a target domain (Gumbel
        top-k in log space, deterministic) — prep.dsir_select."""
        from .prep import dsir_select as _ds

        return _ds(self, target, text_col, id_col, k, **kw)

    def nb_classify(self, labeled, text_col: str, id_col: str,
                    label_col: str, **kw) -> "Stream":
        """Train a multinomial Naive Bayes on ``labeled`` and score
        this stream (argmax class + score) — prep.nb_classify."""
        from .prep import nb_classify as _nb

        return _nb(self, labeled, text_col, id_col, label_col, **kw)

    def pack_sequences(self, id_col: str, ntok_col: str, **kw) -> "Stream":
        """Concat-and-chunk sequence packing — prep.pack_sequences."""
        from .prep import pack_sequences as _ps

        return _ps(self, id_col, ntok_col, **kw)

    def tfidf_top_terms(self, id_col: str, text_col: str, **kw) -> "Stream":
        """Top-k TF-IDF terms per document — prep.tfidf_top_terms."""
        from .prep import tfidf_top_terms as _tt

        return _tt(self, id_col, text_col, **kw)

    def bm25_rank(self, id_col: str, text_col: str, query, **kw) -> "Stream":
        """BM25 top-k retrieval for a query term bag — prep.bm25_rank."""
        from .prep import bm25_rank as _bm

        return _bm(self, id_col, text_col, query, **kw)

    def contaminated_ngrams(self, reference: "Stream", id_col: str,
                            text_col: str, ref_text_col: str,
                            **kw) -> "Stream":
        """N-gram benchmark decontamination flags —
        prep.contaminated_ngrams."""
        from .prep import contaminated_ngrams as _cn

        return _cn(self, reference, id_col, text_col, ref_text_col, **kw)

    def decode_image(self, content_col: str = "content",
                     out_col: str = "image", **kw) -> "Stream":
        """Image decode plumbing (stubbed codec) — multimodal.decode_image
        (``n_features=`` sizes the feature grid for dedup_phash)."""
        from .multimodal import decode_image as _di

        return _di(self, content_col, out_col, **kw)

    def dedup_video_phash(self, id_col: str,
                          content_col: str = "content", **kw) -> "Stream":
        """Video near-dup dedup: per-frame perceptual hashes with an
        aligned-frame majority vote — multimodal.dedup_video_phash."""
        from .multimodal import dedup_video_phash as _dv

        return _dv(self, id_col, content_col, **kw)

    def pack_binary(self, path_col: str = "path",
                    content_col: str = "content") -> "Stream":
        """Small-file packing: (path, content, length) projection so
        millions of tiny media files write to parquet once and scan
        with normal splits — multimodal.pack_binary."""
        from .multimodal import pack_binary as _pb

        return _pb(self, path_col, content_col)

    def decode_audio(self, content_col: str = "content", out_col: str = "audio") -> "Stream":
        """Audio decode plumbing (stubbed codec) — multimodal.decode_audio."""
        from .multimodal import decode_audio as _da

        return _da(self, content_col, out_col)

    def decode_media(self, content_col: str = "content", *, image: bool = True,
                     audio: bool = True) -> "Stream":
        """Fused image+audio decode (one Arrow pass) — multimodal.decode_media."""
        from .multimodal import decode_media as _dm

        return _dm(self, content_col, image=image, audio=audio)

    def resize_image(self, *, width: int, height: int, prefix: str = "image") -> "Stream":
        """Resize metadata rewrite — multimodal.resize_image."""
        from .multimodal import resize_image as _ri

        return _ri(self, width=width, height=height, prefix=prefix)

    def sample_frames(self, content_col: str = "content", *, num_frames: int = 4,
                      out_col: str = "frame", **kw) -> "Stream":
        """Video frame sampling plumbing — multimodal.sample_frames
        (``columns=`` projects the input columns riding back out of the
        Arrow stage, the decode_image contract)."""
        from .multimodal import sample_frames as _sf

        return _sf(self, content_col, num_frames=num_frames, out_col=out_col, **kw)

    def embed_text(self, text_col: str = "caption",
                   out_col: str = "text_embedding", **kw) -> "Stream":
        """Caption → joint-space embedding via the text_embed registry
        codec (CLIP text tower seam) — multimodal.embed_text."""
        from .multimodal import embed_text as _et

        return _et(self, text_col, out_col, **kw)

    def align_score(self, text_vec_col: str = "text_embedding",
                    media_vec_col: str = "image_features",
                    out_col: str = "align_cos") -> "Stream":
        """CLIP-score column: JVM cosine between caption embedding and
        media features — multimodal.align_score."""
        from .multimodal import align_score as _as

        return _as(self, text_vec_col, media_vec_col, out_col)

    def align_filter(self, **kw) -> "Stream":
        """Image-text alignment gate (threshold and/or quantile band
        on the CLIP-shape cosine) — multimodal.align_filter."""
        from .multimodal import align_filter as _af

        return _af(self, **kw)

    def ann_cosine(self, queries: "Stream", *, method: str = "brute", **kw) -> "Stream":
        """Cosine top-k similarity search over an embedding column:
        ``method='brute'`` (broadcast baseline), ``'lsh'`` (sign-plane
        buckets), ``'ivf'`` (Voronoi cells + nprobe), ``'sq8'``
        (byte-quantized scan + exact rerank) or ``'ivf_sq8'`` (the
        composed two-level stack: cells bound search volume, codes bound
        scan bytes). See datapipe.ann_cosine_*."""
        from .datapipe import (
            ann_cosine_brute,
            ann_cosine_ivf,
            ann_cosine_ivf_sq8,
            ann_cosine_lsh,
            ann_cosine_sq8,
        )

        if method == "brute":
            return ann_cosine_brute(self, queries, **kw)
        if method == "lsh":
            return ann_cosine_lsh(self, queries, **kw)
        if method == "ivf":
            return ann_cosine_ivf(self, queries, **kw)
        if method == "sq8":
            return ann_cosine_sq8(self, queries, **kw)
        if method == "ivf_sq8":
            return ann_cosine_ivf_sq8(self, queries, **kw)
        raise ValueError(f"unknown ann method {method!r}")

    def ann_index_build(self, path: str, **kw):
        """Persist the IVF+SQ8 index for this corpus at ``path`` (one
        encode+assign pass, hive-partitioned by cell) and return an
        ``AnnIndex`` handle whose ``query()`` serves batches with
        partition pruning — identical results to
        ``ann_cosine(method='ivf_sq8')``. See ann_index module."""
        from .ann_index import ann_index_build as _aib

        return _aib(self, path, **kw)

    def dedup_index_build(self, path: str, **kw):
        """Persist the MinHash-LSH dedup index for this corpus at
        ``path`` (one signature pass, hive-partitioned postings +
        shingles) and return a ``DedupIndex`` whose ``dedup_batch`` /
        ``append`` make near-duplicate dedup INCREMENTAL — new data
        dedups against the accumulated corpus without recomputing its
        signatures. See dedup_index module."""
        from .dedup_index import dedup_index_build as _dib

        return _dib(self, path, **kw)

    def phash_index_build(self, path: str, **kw):
        """Persist the perceptual-hash media dedup index for this
        DECODED corpus at ``path`` (one signature pass, one
        hive-partitioned posting relation — the 8-byte signature IS the
        verifier) and return a ``PhashIndex`` whose ``dedup_batch`` /
        ``append`` make media dedup INCREMENTAL. See dedup_index
        module."""
        from .dedup_index import phash_index_build as _pib

        return _pib(self, path, **kw)

    # ------------------------------------------------------------------ #
    # event time (SURVEY.md §2.8) and streaming handoff
    # ------------------------------------------------------------------ #

    def add_timestamps(self, ts_expr, *, watermark: Optional[str] = None) -> "Stream":
        """Tag event time — renoir ``add_timestamps``
        (src/operator/mod.rs:329-339). Adds/declares the event-time column
        ``__ts``; on streaming DataFrames also registers the watermark
        (renoir's watermark generator closure → a max-delay contract)."""
        df = self.df.withColumn("__ts", to_col(ts_expr).cast("timestamp"))
        if watermark is not None and df.isStreaming:
            df = df.withWatermark("__ts", watermark)
        return self._new(df)

    def drop_timestamps(self) -> "Stream":
        """renoir ``drop_timestamps`` (src/operator/mod.rs:342-344)."""
        return self._new(self.df.drop("__ts"))

    def batch_mode(self, mode: str = "adaptive",
                   interval: Optional[float] = None) -> "Stream":
        """renoir ``batch_mode`` (src/block/batcher.rs:19-38,
        ``BatchMode::{Fixed, Adaptive, Timed}``) — a network batching
        knob. ``fixed``/``adaptive`` are documented no-ops (Spark
        batches internally); ``timed(interval)`` — renoir's max-latency
        bound — maps to the Structured Streaming PROCESSING-TIME
        trigger, applied by this stream's streaming sinks
        (:meth:`write_kafka`)."""
        if mode not in ("fixed", "adaptive", "timed"):
            raise ValueError(f"unknown batch mode {mode!r}")
        s = self._new(self.df)
        if mode == "timed":
            if interval is None:
                raise ValueError("batch_mode('timed') needs an interval (s)")
            s._trigger_interval = float(interval)
        return s

    def reorder(self, *cols) -> "Stream":
        """renoir ``reorder`` (src/operator/mod.rs:420-422) buffers to
        timestamp order; in batch this is a sort."""
        return self.sorted_by(*(cols or ["__ts"]))

    # ------------------------------------------------------------------ #
    # sinks (SURVEY.md §2.2)
    # ------------------------------------------------------------------ #

    def collect_vec(self) -> list:
        """Gather to driver — renoir ``collect_vec``
        (src/operator/mod.rs:2135)."""
        return self.df.collect()

    def collect_count(self) -> int:
        """renoir ``collect_count`` (src/operator/mod.rs:2104)."""
        return self.df.count()

    def collect_vec_all(self) -> list:
        """renoir ``collect_vec_all`` (src/operator/mod.rs:2165) gathers
        the full result on EVERY host (Replication::Host + All). The
        driver-program analog is a plain collect — every consumer of the
        returned list sees the complete result; re-broadcast to executors
        happens implicitly when the list is used in a closure/literal."""
        return self.df.collect()

    collect_all = collect_vec_all

    def collect_channel(self):
        """Iterator of rows — renoir ``collect_channel``
        (src/operator/mod.rs:2044) → ``toLocalIterator`` (bounded driver
        memory)."""
        return self.df.toLocalIterator()

    def for_each(self, fn: Callable) -> None:
        """Side-effect sink — renoir ``for_each``
        (src/operator/mod.rs:1181-1187)."""
        self.df.foreach(fn)

    def write_csv(self, path: str, *, single_file: bool = False, **options) -> None:
        """renoir ``write_csv`` / ``write_csv_one``
        (src/operator/sink/csv.rs:102-148): per-replica files or one file
        (``coalesce(1)``)."""
        df = self.df.coalesce(1) if single_file else self.df
        df.write.mode("overwrite").options(header="true", **options).csv(path)

    def write_csv_seq(self, template_path: str, **options) -> list:
        """renoir ``write_csv_seq`` (src/operator/sink/csv.rs:116-133):
        one NUMBERED csv per replica following the template —
        ``/data/out.csv`` → ``out0000.csv``, ``out0001.csv`` …;
        ``/data/`` → ``0000.csv``, ``0001.csv`` … (replica ≙ partition).

        Spark-first: the JVM csv writer emits one part file per
        partition into a staging dir; the part files (already sorted by
        partition id in their names) are renamed to the template
        numbering. Data never moves through the driver — the renames
        are metadata operations. Returns the written paths."""
        import glob
        import os
        import shutil
        import uuid

        if template_path.endswith(os.sep):
            base, prefix, ext = template_path.rstrip(os.sep), "", ".csv"
        else:
            base, name = os.path.split(template_path)
            prefix, ext = os.path.splitext(name)
            ext = ext or ".csv"
        os.makedirs(base, exist_ok=True)
        staging = os.path.join(base, f".spark-staging-{uuid.uuid4().hex[:8]}")
        self.df.write.mode("overwrite").options(
            header="true", **options
        ).csv(staging)
        outs = []
        try:
            for i, p in enumerate(sorted(glob.glob(f"{staging}/part-*"))):
                dest = os.path.join(base, f"{prefix}{i:04d}{ext}")
                shutil.move(p, dest)
                outs.append(dest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return outs

    def write_parquet(self, path: str, *, single_file: bool = False,
                      partition_by: Optional[Sequence[str]] = None,
                      **options) -> None:
        """renoir ``write_parquet_seq/_one``
        (src/operator/sink/parquet.rs:95-131). ``partition_by`` is the
        beyond-reference scale knob: hive-style ``col=value/`` layout so
        later scans prune partitions at the FILE LISTING level — the
        100 TB reader never opens files outside the predicate's
        partitions (plan-asserted in tests/test_storage.py)."""
        df = self.df.coalesce(1) if single_file else self.df
        w = df.write.mode("overwrite").options(**options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    def write_parquet_sorted(self, path: str, sort_by: Sequence[str], *,
                             num_files: Optional[int] = None,
                             **options) -> None:
        """Range-sorted parquet layout (beyond-reference scale
        primitive): rows are range-partitioned on ``sort_by`` and
        sorted within each partition before writing, so every output
        file covers a NARROW, NON-OVERLAPPING key range. Parquet
        footers carry per-column min/max statistics, so a later scan
        with a predicate on the sort key skips whole files and row
        groups the range proves empty — the sorted-layout
        data-skipping pattern (what Delta/Iceberg table sort orders
        buy, on plain parquet). Complements ``partition_by`` (listing-
        level pruning on LOW-cardinality columns) for HIGH-cardinality
        keys like timestamps where a directory per value is absurd.

        At 100 TB: one range-exchange at write time (the range
        boundaries come from Spark's reservoir sample of the key
        distribution, so skew spreads evenly) buys every subsequent
        time/key-windowed scan a footer-level prune. ``num_files``
        sizes the output files; default = current shuffle parallelism.
        Disjointness of the per-file ranges is asserted from the real
        footers in tests/test_storage.py."""
        cols = [to_col(c) for c in sort_by]
        df = (self.df.repartitionByRange(num_files, *cols) if num_files
              else self.df.repartitionByRange(*cols))
        (df.sortWithinPartitions(*cols)
           .write.mode("overwrite").options(**options).parquet(path))

    def write_table_bucketed(self, table: str, *, by: Sequence[str],
                             num_buckets: int,
                             sort_by: Optional[Sequence[str]] = None,
                             path: Optional[str] = None) -> None:
        """Bucketed parquet table (beyond-reference scale primitive):
        rows are hash-partitioned into ``num_buckets`` files per the
        bucket columns AT WRITE TIME, so later joins/aggregations on
        those columns skip the shuffle entirely — the write-once,
        join-many layout for 100 TB fact tables. Optionally sorted
        within buckets (sort-merge join without the sort). Read back via
        ``StreamContext.stream_table``; co-location is plan-asserted in
        tests/test_storage.py (no Exchange on a bucketed⋈bucketed join).

        Catalog note: with Spark's default in-memory catalog the table
        METADATA (including the bucketing spec) lives for the session;
        the parquet files persist at ``path`` but a new session reads
        them as a plain dataset. On a real deployment back the session
        with a shared metastore so the bucket layout survives — the
        data never needs rewriting either way.
        """
        w = (
            self.df.write.mode("overwrite").format("parquet")
            .bucketBy(num_buckets, *by)
        )
        if sort_by:
            w = w.sortBy(*sort_by)
        if path is not None:
            w = w.option("path", path)
        w.saveAsTable(table)

    def write_json(self, path: str, *, single_file: bool = False, **options) -> None:
        """JSON-lines sink (beyond-reference; pairs with
        ``StreamContext.stream_json``)."""
        df = self.df.coalesce(1) if single_file else self.df
        df.write.mode("overwrite").options(**options).json(path)

    def write_avro(self, path: str, *, single_file: bool = False, **options) -> None:
        """renoir ``write_avro`` (src/operator/sink/avro.rs:93-131).
        Needs spark-avro on the classpath; raises a clear error when
        absent (mirrors stream_avro)."""
        df = self.df.coalesce(1) if single_file else self.df
        try:
            df.write.mode("overwrite").options(**options).format("avro").save(path)
        except Exception as exc:  # pragma: no cover - classpath dependent
            raise RuntimeError(
                "avro support requires the spark-avro package on the classpath"
            ) from exc

    def write_kafka(self, brokers: str, topic: str,
                    checkpoint: Optional[str] = None):
        """renoir ``write_kafka`` (src/operator/sink/kafka.rs:98-105).
        The reference sink accepts bounded streams too, so branch on
        ``isStreaming``: unbounded → ``writeStream`` (checkpoint
        required), bounded → a plain batch ``df.write`` (returns None).
        Needs the spark-sql-kafka package on the classpath; raises a
        clear error when absent (mirrors write_avro)."""
        payload = self.df.select(F.to_json(F.struct(*self.df.columns)).alias("value"))
        try:
            if self.df.isStreaming:
                if checkpoint is None:
                    raise ValueError(
                        "write_kafka on an unbounded stream needs a checkpoint dir"
                    )
                writer = (
                    payload.writeStream.format("kafka")
                    .option("kafka.bootstrap.servers", brokers)
                    .option("topic", topic)
                    .option("checkpointLocation", checkpoint)
                )
                trig = getattr(self, "_trigger_interval", None)
                if trig is not None:  # BatchMode::Timed latency bound
                    writer = writer.trigger(
                        processingTime=f"{int(trig * 1000)} milliseconds"
                    )
                return writer.start()
            payload.write.format("kafka").option(
                "kafka.bootstrap.servers", brokers
            ).option("topic", topic).save()
            return None
        except ValueError:
            raise
        except Exception as exc:  # pragma: no cover - classpath dependent
            raise RuntimeError(
                "kafka support requires the spark-sql-kafka package on the classpath"
            ) from exc

    def cache(self) -> "Stream":
        """Materialize for replay — renoir ``cache``/``collect_cache``
        (src/operator/cache/mod.rs:20-130) → ``persist``."""
        return self._new(self.df.persist())

    def collect_cache(self) -> "CachedStream":
        """Materialize for replay in a LATER context — renoir
        ``collect_cache`` (src/operator/mod.rs:2264-2342,
        cache/stream_cache.rs:13-85): returns a handle whose
        ``stream_in(ctx)`` re-sources the materialized result."""
        return CachedStream(self.df)

    def materialize(self, path: str, *, partition_by=None, **options) -> "Stream":
        """Durable materialization barrier: write this stream to parquet
        and continue FROM THE FILES — the 100 TB idiom for cutting a long
        pipeline into restartable phases (memory/disk ``cache()`` dies
        with the session; a materialized phase survives driver loss and
        is shareable across jobs). The downstream plan starts at a fresh
        scan, so its optimizer work no longer re-analyzes the upstream
        graph — the durable cousin of the iteration loops' eager
        ``localCheckpoint``. renoir analog: ``CachedStream`` replayed
        into a new context (src/operator/cache/stream_cache.rs:13-85),
        made durable."""
        self.write_parquet(path, partition_by=partition_by, **options)
        return self.ctx.stream_parquet(path)

    def to_view(self, name: str) -> "Stream":
        """Register this stream as a temp view for ``ctx.sql`` — the two
        halves of the SQL escape hatch renoir doesn't have."""
        self.df.createOrReplaceTempView(name)
        return self

    def unpersist(self, blocking: bool = False) -> "Stream":
        """Release cached blocks from :meth:`cache` / :meth:`split` /
        ``route().build()`` AND any internal relations an operator
        persisted to build this stream (dedup signatures, outer
        interval-join id frames) — renoir drops its cache with the
        ``CacheHandle``; long-lived Spark sessions must unpersist or the
        block manager accumulates partitions."""
        for d in self._retained:
            d.unpersist(blocking)
        self._retained = []
        self.df.unpersist(blocking)
        return self

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


class CachedStream:
    """Replayable materialized stream — renoir ``CachedStream``
    (src/operator/cache/stream_cache.rs:13-85): ``stream_in`` re-sources
    the cached result into a (new) context without recomputation."""

    def __init__(self, df: DataFrame) -> None:
        self.df = df.persist()
        self.df.count()  # eager: renoir materializes at execute() time

    def stream_in(self, ctx: "StreamContext") -> "Stream":
        return Stream(ctx, self.df)

    def unpersist(self, blocking: bool = False) -> None:
        self.df.unpersist(blocking)


class RouteBuilder:
    """First-match content routing — renoir ``RouterBuilder``
    (src/operator/route.rs:33-56). Branch i receives rows matching
    predicate i and NONE of the earlier predicates; unmatched rows drop."""

    def __init__(self, stream: Stream) -> None:
        self._stream = stream
        self._preds: list[Column] = []

    def add_route(self, pred) -> "RouteBuilder":
        self._preds.append(to_col(pred))
        return self

    def build(self, *, persist: bool = True) -> list[Stream]:
        base = self._stream.df.persist() if persist else self._stream.df
        out: list[Stream] = []
        for i, p in enumerate(self._preds):
            cond = p
            for earlier in self._preds[:i]:
                cond = cond & ~earlier
            out.append(Stream(self._stream.ctx, base.filter(cond)))
        return out
