"""KeyedStream — a stream with key columns; keyed operators.

Reference parity: renoir's ``KeyedStream<Op>`` (src/stream.rs:59-67) is a
hash-partitioned stream of (K, V). Here the key is a set of columns; the
shuffle is not eager — Spark inserts (and reuses) the exchange exactly where
a keyed operator needs co-location (EnsureRequirements, SURVEY.md §4).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import named_cols, to_col, to_cols

if TYPE_CHECKING:  # pragma: no cover
    from .context import StreamContext
    from .stream import Stream


class KeyedStream:
    def __init__(self, ctx: "StreamContext", df: DataFrame, keys: Sequence[str]) -> None:
        self.ctx = ctx
        self.df = df
        self.keys = list(keys)
        # upstream correctness persists flowing through the keyed hop
        # (propagated by Stream.key_by / back out via _stream)
        self._retained: list = []

    def _stream(self, df: DataFrame) -> "Stream":
        from .stream import Stream

        s = Stream(self.ctx, df)
        s._retained.extend(self._retained)
        return s

    def _keyed(self, df: DataFrame) -> "KeyedStream":
        ks = KeyedStream(self.ctx, df, self.keys)
        ks._retained.extend(self._retained)
        return ks

    def to_stream(self) -> "Stream":
        """Drop KEYING, keep the key columns — renoir ``unkey``
        (src/operator/mod.rs:2808: the stream becomes (K, V) tuples)."""
        return self._stream(self.df)

    unkey = to_stream

    def drop_key(self) -> "Stream":
        """Drop the key COLUMNS too — renoir ``drop_key``
        (src/operator/mod.rs:2822: only the values remain)."""
        return self._stream(self.df.drop(*self.keys))

    # ------------------------------------------------------------------ #
    # keyed element-wise: key is preserved, values transform
    # ------------------------------------------------------------------ #

    def map(self, *exprs, **named) -> "KeyedStream":
        """Keyed map (renoir KeyedStream::map keeps the key)."""
        cols = [F.col(k) for k in self.keys] + named_cols(exprs, named)
        return self._keyed(self.df.select(*cols))

    def filter(self, cond) -> "KeyedStream":
        return self._keyed(self.df.filter(to_col(cond)))

    def flat_map(self, expr, alias: str = "value") -> "KeyedStream":
        cols = [F.col(k) for k in self.keys] + [F.explode(to_col(expr)).alias(alias)]
        return self._keyed(self.df.select(*cols))

    # ------------------------------------------------------------------ #
    # keyed aggregation (SURVEY.md §2.5) — hash agg per key
    # ------------------------------------------------------------------ #

    def fold(self, *aggs, **named) -> "Stream":
        """Per-key fold — renoir ``KeyedStream::fold``
        (src/operator/mod.rs:2641-2647, keyed_fold.rs). Catalyst plans the
        local-pre-agg → shuffle → final-agg pipeline renoir hand-writes in
        ``group_by_fold`` (mod.rs:822-854)."""
        return self._stream(self.df.groupBy(*self.keys).agg(*named_cols(aggs, named)))

    reduce = fold

    def fold_py(self, fn: Callable, schema) -> "Stream":
        """Arbitrary-closure keyed fold via Arrow grouped-map
        (``applyInPandas``): ``fn(key_tuple, pandas.DataFrame) -> pdf``.
        The escape hatch for renoir fold closures no expression can state."""
        return self._stream(self.df.groupBy(*self.keys).applyInPandas(fn, schema))

    def sum(self, value, alias: str = "sum") -> "Stream":
        """renoir ``group_by_sum`` (src/operator/mod.rs:1467-1498)."""
        return self.fold(**{alias: F.sum(to_col(value))})

    def count(self, alias: str = "count") -> "Stream":
        """renoir ``group_by_count`` (src/operator/mod.rs:1594-1605)."""
        return self.fold(**{alias: F.count(F.lit(1))})

    def avg(self, value, alias: str = "avg") -> "Stream":
        """renoir ``group_by_avg`` (src/operator/mod.rs:1531-1565)."""
        return self.fold(**{alias: F.avg(to_col(value))})

    def min(self, value, alias: str = "min") -> "Stream":
        return self.fold(**{alias: F.min(to_col(value))})

    def max(self, value, alias: str = "max") -> "Stream":
        return self.fold(**{alias: F.max(to_col(value))})

    def max_element(self, by) -> "Stream":
        """renoir ``group_by_max_element`` (src/operator/mod.rs:1418-1434)."""
        return self._arg_extreme(by, F.max_by)

    def min_element(self, by) -> "Stream":
        """renoir ``group_by_min_element`` (src/operator/mod.rs:1636-1652)."""
        return self._arg_extreme(by, F.min_by)

    def _arg_extreme(self, by, agg) -> "Stream":
        others = [c for c in self.df.columns if c not in self.keys]
        picked = agg(F.struct(*[F.col(c) for c in others]), to_col(by)).alias("__e")
        out = self.df.groupBy(*self.keys).agg(picked)
        return self._stream(
            out.select(*self.keys, *[F.col(f"__e.{c}").alias(c) for c in others])
        )

    # ------------------------------------------------------------------ #
    # keyed two-pass scans (SURVEY.md §2.5) → window functions
    # ------------------------------------------------------------------ #

    def fold_scan(self, agg_exprs: dict, map_fn: Callable[[dict], list]) -> "Stream":
        """Per-key two-pass scan — renoir keyed ``fold_scan``
        (src/operator/mod.rs:2954-3010): pass 1 per-key aggregate, pass 2
        map each element with its key's aggregate. Spark-first: an
        unbounded window aggregate — ONE shuffle, no self-join.
        ``map_fn({name: Column}) -> [output Columns]`` sees the per-key
        aggregates; row columns remain addressable via F.col."""
        w = Window.partitionBy(*self.keys)
        aggs = {n: to_col(e).over(w) for n, e in agg_exprs.items()}
        return self._stream(self.df.select(*map_fn(aggs)))

    reduce_scan = fold_scan

    def running_sum(self, order, *, skew_proof: bool = True,
                    partitions: Optional[int] = None, **named) -> "Stream":
        """Per-key RUNNING (prefix) sums in ``order`` — the running form
        of keyed ``fold_scan``: for every row, each named output is the
        sum of its expression over the key's rows up to and including
        this row (SQL ``SUM(x) OVER (PARTITION BY k ORDER BY o ROWS
        UNBOUNDED PRECEDING)``, including its NULL contract: NULL values
        don't advance the total, rows before a key's first non-null stay
        NULL).

        ``skew_proof=False`` is that exact window aggregate — one hash
        shuffle, and the right default when no key is pathological: the
        JVM scan is fast enough that a 2M-row hot key costs ~0.2 s.
        But the hot key's ENTIRE history lands in one task's sort +
        scan + spill; once a single key's volume approaches what one
        executor can sort in memory, that task is the job. The
        ``skew_proof=True`` (default) chunked plan removes the per-key
        serialization:

        1. range-partition on ``(keys..., order)`` — a hot key SPANS
           chunks instead of owning one task;
        2. partition-local per-key prefix sums via a JVM window over
           ``(chunk, key)`` — its hash exchange is what splits the hot
           key, and no window partition exceeds ~rows/#chunks;
        3. per-(chunk, key) totals — a relation of at most
           #chunks + #keys rows — prefix-summed by a window over the
           tiny relation and joined back as carry-ins (null-safely, so
           a NULL key keeps its carries; AQE broadcasts the carry
           relation when it is small and hash-joins it at billion-key
           cardinality).

        Costs one extra exchange + a correctness persist versus the
        plain window form (see the inline comment); buys a per-key scan
        that is parallel in the number of range chunks regardless of key
        distribution. Requires ``order`` to be unique per key (ties may
        split across range chunks).
        """
        keys = list(self.keys)
        if not skew_proof:
            w = (
                Window.partitionBy(*keys)
                .orderBy(to_col(order))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            df = self.df
            for n, e in named.items():
                df = df.withColumn(n, F.sum(to_col(e)).over(w))
            return self._stream(df)

        df = self.df.withColumn("__ord", to_col(order))
        # native sum types: SUM(long) stays long (chunked carry addition
        # is then exact at ANY association, and for long/double inputs
        # the output schema matches the skew_proof=False window path);
        # doubles keep the usual association caveat either way. Decimals
        # widen one extra digit here (carry + local prefix adds two
        # SUM(decimal(p,s)) results) — cast downstream if a fixed
        # decimal schema matters.
        for n, e in named.items():
            df = df.withColumn(f"__v_{n}", to_col(e))
        P = partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        # CORRECTNESS persist, not caching: the local-prefix branch and
        # the chunk-total branch both consume this range exchange, and
        # two physical instances of a range exchange sample partition
        # boundaries independently (rdd-id-seeded) — unpersisted, the
        # branches can disagree on chunk ids and the carries land on the
        # wrong rows (measured ~7% of rows). One shared InMemoryRelation
        # pins a single partitioning for every consumer (same fix as
        # zip's _global_index).
        d = (
            df.repartitionByRange(P, *keys, "__ord")
            .withColumn("__pid", F.spark_partition_id())
            .persist()
        )

        names = list(named)
        # partition-local per-key prefix, JVM-side: the window partitions
        # by (chunk, key), and the hot key SPANS chunks, so no window
        # partition exceeds ~rows/P — the window's own hash exchange on
        # (chunk, key) is what breaks the hot key apart
        wloc = (
            Window.partitionBy("__pid", *keys)
            .orderBy("__ord")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        local = d
        for n in names:
            local = local.withColumn(f"__lc_{n}", F.sum(f"__v_{n}").over(wloc))
            local = local.withColumn(f"__ln_{n}", F.count(f"__v_{n}").over(wloc))

        tot = d.groupBy("__pid", *keys).agg(
            *[F.sum(f"__v_{n}").alias(f"__s_{n}") for n in names],
            *[F.count(f"__v_{n}").alias(f"__c_{n}") for n in names],
        )
        wprev = (
            Window.partitionBy(*keys)
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = tot.select(
            "__pid",
            *keys,
            *[F.sum(f"__s_{n}").over(wprev).alias(f"__cs_{n}") for n in names],
            *[F.sum(f"__c_{n}").over(wprev).alias(f"__cc_{n}") for n in names],
        )

        # NULL-SAFE carry join: a NULL key is a real group for the window
        # machinery (both the local prefix and the carry relation keep
        # it), so the re-attach must match it too — a plain equi-join
        # would drop NULL-key carries and silently reset that group's
        # prefix at every chunk boundary. No forced broadcast: the carry
        # relation is O(#chunks + #keys) rows — tiny for bounded key
        # spaces (AQE broadcasts it), but at billion-key cardinality it
        # must be allowed to hash-join instead of OOMing the driver.
        cr = carry.select(
            F.col("__pid").alias("__cr_pid"),
            *[F.col(k).alias(f"__cr_k{i}") for i, k in enumerate(keys)],
            *[F.col(f"__cs_{n}") for n in names],
            *[F.col(f"__cc_{n}") for n in names],
        )
        cond = local["__pid"] == cr["__cr_pid"]
        for i, k in enumerate(keys):
            cond = cond & local[k].eqNullSafe(cr[f"__cr_k{i}"])
        out = local.join(cr, cond, "left")
        for n in names:
            seen = (
                F.col(f"__ln_{n}") + F.coalesce(F.col(f"__cc_{n}"), F.lit(0))
            ) > 0
            cum = F.coalesce(F.col(f"__lc_{n}"), F.lit(0)) + F.coalesce(
                F.col(f"__cs_{n}"), F.lit(0)
            )
            out = out.withColumn(n, F.when(seen, cum))
        drop = (
            ["__ord", "__pid", "__cr_pid"]
            + [f"__cr_k{i}" for i in range(len(keys))]
            + [f"__{p}_{n}" for n in names for p in ("v", "lc", "ln", "cs", "cc")]
        )
        return self._stream(out.drop(*drop))._retain(d)

    def rich_map(self, fn: Callable, schema, *, order: Optional[Sequence] = None) -> "Stream":
        """Per-key stateful map — renoir keyed ``rich_map``
        (src/operator/mod.rs:2740-2746, state per key). ``fn(pdf) -> pdf``
        sees one key's rows (sorted by ``order`` if given) and may carry
        state across them. Executed as ONE sorted-partition Python pass
        (util.grouped_apply_sorted), not a per-key Arrow round trip."""
        from .util import grouped_apply_sorted

        cols = [c for c in (order or [])]

        def _apply(pdf):
            if cols:
                pdf = pdf.sort_values(cols)
            return fn(pdf)

        return self._stream(
            grouped_apply_sorted(self.df, self.keys, cols, _apply, schema)
        )

    def delta_iterate(self, num_iterations: int, body: Callable,
                      merge: Optional[Callable] = None,
                      **loop_confs) -> "KeyedStream":
        """Keyed incremental iteration — renoir ``delta_iterate``
        (src/operator/iteration/iterate_delta.rs:104-140). Pregel-style
        driver loop; see iteration.py for the full contract
        (``adaptive`` / ``shuffle_partitions`` loop tuning included)."""
        from .iteration import delta_iterate as _delta

        return _delta(self, num_iterations, body, merge, **loop_confs)

    # ------------------------------------------------------------------ #
    # keyed join (SURVEY.md §2.6) and windows (§2.8)
    # ------------------------------------------------------------------ #

    def join(self, other: "KeyedStream", *, how: str = "inner") -> "Stream":
        """Co-partitioned keyed join — renoir ``KeyedStream::join``
        (src/operator/join/keyed_join.rs:408-425). Joins on the key
        columns; Spark reuses an existing partitioning when both sides are
        already exchanged on the key (EnsureRequirements)."""
        if len(other.keys) != len(self.keys):
            raise ValueError(
                "keyed join requires matching key arity: "
                f"left keys {list(self.keys)} vs right keys {list(other.keys)}"
            )
        if [k for k in other.keys] != self.keys:
            right = other.df
            for a, b in zip(other.keys, self.keys):
                if a != b:
                    right = right.withColumnRenamed(a, b)
        else:
            right = other.df
        overlap = (set(self.df.columns) & set(right.columns)) - set(self.keys)
        for c in overlap:
            right = right.withColumnRenamed(c, f"{c}_r")
        return self._stream(self.df.join(right, self.keys, how))

    def join_outer(self, other: "KeyedStream") -> "Stream":
        """renoir ``KeyedStream::join_outer`` (keyed_join.rs:390-406)."""
        return self.join(other, how="full")

    def asof_join(self, other: "KeyedStream", *, left_ts, right_ts,
                  **kw) -> "Stream":
        """Point-in-time join on this stream's keys — the keyed form of
        ``Stream.asof_join`` (same union + single window pass; the keys
        come from the keying instead of ``on``)."""
        return self.to_stream().asof_join(
            other.to_stream(), left_ts=left_ts, right_ts=right_ts,
            on=self.keys, **kw,
        )

    def window(self, descr) -> "WindowedStream":
        """Attach a window description — renoir ``KeyedStream::window``
        (src/operator/window/mod.rs:311-321)."""
        from .window import WindowedStream

        return WindowedStream(self, descr)

    def interval_join(self, other: "KeyedStream", *, left_ts, right_ts,
                      lower: float, upper: float, how: str = "inner") -> "Stream":
        """Keyed event-time band join — renoir keyed ``interval_join``
        (src/operator/mod.rs:2875-2888). Delegates to the bucketed band
        join (stream.py) with the key as equi-condition."""
        return self.to_stream().interval_join(
            other.to_stream(), left_ts=left_ts, right_ts=right_ts,
            lower=lower, upper=upper, on=self.keys, how=how,
        )

    # sinks
    def collect_vec(self) -> list:
        return self.df.collect()
