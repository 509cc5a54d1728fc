"""Streaming slice tests (SURVEY §2.8 watermarks / M4): the same
declarative window plans run over a file-backed unbounded source
(availableNow drain) and over the bounded read of the SAME files; results
must agree. A multi-micro-batch case exercises watermark advancement and
late-row dropping (renoir's WatermarkFrontier contract: late data ≤ a seen
watermark must not appear, src/operator/mod.rs:142-144)."""

import os
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from renoir_spark.streaming import event_time_agg, foreach_batch, run_to_completion


def _ts(s):
    return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, ctx):
    """Four parquet files with increasing event times (file mtimes force
    source processing order). The LAST file carries a row older than the
    watermark will be by then — and, crucially, older than a window that
    will already have been emitted and evicted (Spark only drops late
    rows whose window state is gone; a late row landing in the same
    micro-batch that evicts its window still merges)."""
    d = tmp_path_factory.mktemp("events_stream")
    batches = [
        [(1, _ts(10), 1.0), (1, _ts(70), 2.0), (2, _ts(40), 3.0)],
        [(1, _ts(200), 4.0), (2, _ts(260), 5.0)],
        [(2, _ts(330), 6.0)],
        [(1, _ts(15), 7.0)],  # LATE: window [0,60) already evicted
    ]
    for i, rows in enumerate(batches):
        df = ctx.spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        path = str(d / f"batch_{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        t = time.time() - 400 + i * 60
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    return str(d)


def _schema():
    return "user_id long, ts timestamp, value double"


def test_streaming_tumbling_equals_batch(ctx, stream_dir):
    unbounded = ctx.stream_parquet_unbounded(f"{stream_dir}/*", _schema())
    sdf = event_time_agg(
        unbounded, "ts", size=60.0, keys=["user_id"],
        watermark="30 seconds", n=F.count(F.lit(1)), vol=F.sum("value"),
    ).df
    got = run_to_completion(sdf, output_mode="complete")

    bounded = ctx.stream_parquet(f"{stream_dir}/*")
    exp = event_time_agg(
        bounded, "ts", size=60.0, keys=["user_id"],
        n=F.count(F.lit(1)), vol=F.sum("value"),
    ).collect_vec()

    norm = lambda rows: sorted(
        (r.user_id, r.win_start, r.n, round(r.vol, 6)) for r in rows
    )
    assert norm(got) == norm(exp)
    assert len(got) > 0


def test_streaming_session_equals_batch(ctx, stream_dir):
    from renoir_spark.streaming import session_agg

    unbounded = ctx.stream_parquet_unbounded(f"{stream_dir}/*", _schema())
    sdf = session_agg(
        unbounded, "ts", gap=100.0, keys=["user_id"],
        watermark="30 seconds", n=F.count(F.lit(1)),
    ).df
    got = run_to_completion(sdf, output_mode="complete")

    bounded = ctx.stream_parquet(f"{stream_dir}/*")
    exp = session_agg(
        bounded, "ts", gap=100.0, keys=["user_id"], n=F.count(F.lit(1))
    ).collect_vec()

    norm = lambda rows: sorted((r.user_id, r.win_start, r.n) for r in rows)
    assert norm(got) == norm(exp)
    assert len(got) > 0


def test_watermark_drops_late_rows_across_microbatches(ctx, stream_dir):
    # one file per micro-batch: after batch 1 the watermark is 230s, so
    # window [0,60) is emitted+evicted at the end of batch 2; the late
    # row (user 1, t=15) arrives in batch 3, AFTER eviction, and must be
    # dropped (its window would otherwise re-emit with n=2 or duplicate).
    unbounded = ctx.from_df(
        ctx.spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    sdf = event_time_agg(
        unbounded, "ts", size=60.0, keys=["user_id"],
        watermark="30 seconds", n=F.count(F.lit(1)),
    ).df
    got = run_to_completion(sdf, output_mode="append")
    # append mode emits only watermark-closed windows; the late row would
    # have landed in window [0, 60) for user 1 INCREASING its count to 2.
    w0 = [r for r in got if r.user_id == 1 and r.win_start == _ts(0)]
    assert len(w0) == 1 and w0[0].n == 1  # late row dropped, emitted once


def test_foreach_batch_harness(ctx, stream_dir):
    unbounded = ctx.stream_parquet_unbounded(f"{stream_dir}/*", _schema())
    seen = []
    foreach_batch(unbounded.df, lambda bdf, bid: seen.append((bid, bdf.count())))
    assert sum(n for _b, n in seen) == 7  # all rows delivered exactly once


def test_channel_source_push_then_drain(ctx):
    """renoir ChannelSource contract (src/operator/source/channel.rs:
    18-67): producer pushes batches, consumer sees exactly the pushed
    elements. Three pushes → availableNow drain sees all rows; a fourth
    push after the drain is picked up by the next drain only."""
    ch = ctx.stream_channel("k long, v double")
    ch.push([(1, 1.0), (2, 2.0)])
    ch.push([(3, 3.0)])
    ch.push([(1, 4.0)])

    agg = event_time_agg  # noqa: F841 (imported harness stays exercised above)
    s = ch.stream(max_files_per_trigger=1)
    assert s.df.isStreaming
    got = run_to_completion(
        s.df.groupBy("k").agg(F.sum("v").alias("total")), output_mode="complete"
    )
    assert {(r.k, r.total) for r in got} == {(1, 5.0), (2, 2.0), (3, 3.0)}

    ch.push([(9, 9.0)])
    got2 = run_to_completion(
        ch.stream().df.groupBy("k").agg(F.sum("v").alias("total")),
        output_mode="complete",
    )
    assert (9, 9.0) in {(r.k, r.total) for r in got2}
    # bounded view matches the streamed totals (oracle-comparison hook)
    batch = ch.stream_batch().df.groupBy("k").agg(F.sum("v").alias("total"))
    assert {(r.k, r.total) for r in batch.collect()} == {(r.k, r.total) for r in got2}


def test_rate_source_generates_rows(ctx):
    """AsyncStreamSource stand-in (src/operator/source/async_stream.rs:
    16-60): the rate source generates unbounded (timestamp, value) rows
    executor-side; a short drain must observe a dense prefix 0..n."""
    s = ctx.stream_rate(rows_per_second=100, num_partitions=2)
    assert s.df.isStreaming
    rows = []

    def sink(batch_df, _bid):
        rows.extend(batch_df.collect())

    q = s.df.writeStream.foreachBatch(sink).start()
    deadline = time.time() + 30
    while time.time() < deadline and len(rows) < 10:
        time.sleep(0.5)
    q.stop()
    vals = sorted(r.value for r in rows)
    assert len(vals) >= 10
    assert vals[:3] == [0, 1, 2]  # dense prefix, no gaps at the start


def test_streaming_exact_count_window_state_across_batches(ctx):
    """Exact streaming CountWindow (count.rs:112-124) via per-key state
    (applyInPandasWithState): windows must close across micro-batch
    boundaries — key B's window spans three pushes — and incomplete
    windows must NOT emit."""
    from renoir_spark.streaming import count_window_fold_stream

    ch = ctx.stream_channel("k string, v double")
    ch.push([("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 10.0)])
    ch.push([("A", 4.0), ("A", 5.0), ("A", 6.0), ("B", 20.0)])
    ch.push([("B", 30.0), ("A", 99.0)])  # A:99 stays buffered (incomplete)

    s = ch.stream(max_files_per_trigger=1)  # one micro-batch per push
    out = count_window_fold_stream(s, ["k"], "v", size=3)
    got = run_to_completion(out.df, output_mode="append")
    rows = {(r.k, r.window_id, r.n, r.sum_v) for r in got}
    assert rows == {
        ("A", 0, 3, 6.0),
        ("A", 1, 3, 15.0),
        ("B", 0, 3, 60.0),  # closed across three micro-batches
    }


def test_stream_stream_interval_join_equals_batch(ctx, stream_dir):
    """Stream-stream band join (renoir interval_join on unbounded input,
    src/operator/mod.rs:1738-1755): two unbounded sources joined on
    (user_id, |ts_l - ts_r| within band) must produce exactly the rows of
    the batch interval_join over the same files. Spark bounds the join
    state from the band + watermarks; append-mode drain."""
    from renoir_spark.streaming import interval_join_stream

    sl = ctx.stream_parquet_unbounded(f"{stream_dir}/*", _schema())
    sr = ctx.stream_parquet_unbounded(f"{stream_dir}/*", _schema())
    out = interval_join_stream(
        sl, sr, left_ts="ts", right_ts="ts",
        lower=30.0, upper=30.0, on=["user_id"], watermark="0 seconds",
    )
    got = {
        (r.user_id, r.ts, r.value, r.ts_r, r.value_r)
        for r in run_to_completion(out.df, output_mode="append")
    }

    bl = ctx.stream_parquet(f"{stream_dir}/*")
    br = ctx.stream_parquet(f"{stream_dir}/*")
    batch = bl.interval_join(
        br, left_ts="ts", right_ts="ts", lower=30.0, upper=30.0, on=["user_id"]
    )
    want = {
        (r.user_id, r.ts, r.value, r.ts_r, r.value_r)
        for r in batch.df.collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_exact_bounded_state(ctx):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): duplicate
    content arriving across micro-batches within the watermark delay
    must emit ONCE; distinct contents all pass. State is bounded by the
    delay, not by history."""
    from renoir_spark.streaming import dedup_exact_stream

    ch = ctx.stream_channel("doc_id long, ts timestamp, text string")
    t0 = _ts(1000)
    ch.push([(0, t0, "alpha beta"), (1, t0, "gamma")])
    ch.push([(2, t0, "Alpha   beta"), (3, t0, "delta")])  # dup of 0 after norm

    s = ch.stream(max_files_per_trigger=1)
    out = dedup_exact_stream(s, "text", ts_col="ts", delay="1 hour")
    got = run_to_completion(out.df, output_mode="append")
    texts = sorted(" ".join(r.text.lower().split()) for r in got)
    assert texts == ["alpha beta", "delta", "gamma"]
    # first arrival wins
    assert {r.doc_id for r in got} == {0, 1, 3}

    # batch path: same plan, plain dropDuplicates
    batch = dedup_exact_stream(ch.stream_batch(), "text", ts_col="ts")
    assert batch.df.count() == 3


def test_dedup_bounded_path_with_map_column(ctx, spark):
    """The bounded parity path of dedup_exact_stream ranks ties by the
    row's other columns — a map<> column is unorderable and used to make
    the whole sort an AnalysisException. It must rank by a deterministic
    hash of the map instead, and still keep the first arrival."""
    from renoir_spark.streaming import dedup_exact_stream

    t0, t1 = _ts(1000), _ts(2000)
    df = spark.createDataFrame(
        [
            (0, t1, "alpha beta", {"k": "late"}),
            (1, t0, "Alpha   beta", {"k": "early"}),
            (2, t0, "gamma", {"k": "solo"}),
        ],
        "doc_id long, ts timestamp, text string, meta map<string,string>",
    )
    out = dedup_exact_stream(
        ctx.from_df(df), "text", ts_col="ts"
    ).df.collect()
    assert {r.doc_id for r in out} == {1, 2}  # earliest ts wins per key


def test_streaming_dedup_url_across_batches(ctx):
    """Streaming canonical-URL dedup: raw spellings of ONE page
    (case/www/tracking-param/default-port/fragment variants) arriving
    in different micro-batches collapse to the first arrival; a
    distinct page and a distinct non-default-port origin both pass."""
    from renoir_spark.streaming import dedup_url_stream

    ch = ctx.stream_channel("doc_id long, ts timestamp, url string")
    t0 = _ts(1000)
    ch.push([
        (0, t0, "HTTPS://WWW.Site.com/a/?utm_source=x"),
        (1, t0, "https://site.com/b"),
    ])
    ch.push([
        (2, t0, "https://site.com:443/a#frag"),   # same page as 0
        (3, t0, "https://site.com:8080/a"),       # distinct origin
    ])

    s = ch.stream(max_files_per_trigger=1)
    out = dedup_url_stream(s, "url", ts_col="ts", delay="1 hour")
    got = run_to_completion(out.df, output_mode="append")
    assert {r.doc_id for r in got} == {0, 1, 3}  # first arrival of /a wins
    assert {r.canon_url for r in got} == {
        "https://site.com/a", "https://site.com/b", "https://site.com:8080/a",
    }

    batch = dedup_url_stream(ch.stream_batch(), "url", ts_col="ts")
    # bounded path is deterministic first-arrival (ts, then tie-break),
    # not an arbitrary dropDuplicates survivor
    assert {r.doc_id for r in batch.df.collect()} == {0, 1, 3}


def test_streaming_transaction_window_commit_across_batches(ctx):
    """Streaming TransactionWindow (transaction.rs:52-122): commit rows
    (v > 0.9) close the window INCLUDING the committing element; key A's
    second window spans two pushes; an uncommitted tail stays in state."""
    from renoir_spark.streaming import transaction_window_stream

    ch = ctx.stream_channel("k string, seq long, v double")
    ch.push([("A", 0, 0.1), ("A", 1, 0.95), ("A", 2, 0.2), ("B", 0, 0.3)])
    ch.push([("A", 3, 0.99), ("B", 1, 0.91), ("B", 2, 0.5)])

    def logic(row, _state):
        return "commit" if row["v"] > 0.9 else "continue"

    def agg(rows):
        return (len(rows), round(sum(r["v"] for r in rows), 6))

    s = ch.stream(max_files_per_trigger=1)
    out = transaction_window_stream(
        s, ["k"], "seq", logic, agg=agg, out_extra_schema="n long, sum_v double"
    )
    got = {(r.k, r.window_id, r.n, r.sum_v)
           for r in run_to_completion(out.df, output_mode="append")}
    assert got == {
        ("A", 0, 2, 1.05),   # rows 0,1 — commit element included
        ("A", 1, 2, 1.19),   # rows 2,3 — window spans the two pushes
        ("B", 0, 2, 1.21),   # rows 0,1
        # B seq=2 (0.5) stays buffered: no commit, correct append gap
    }


def test_streaming_transaction_window_discard(ctx):
    from renoir_spark.streaming import transaction_window_stream

    ch = ctx.stream_channel("k string, seq long, v double")
    ch.push([("A", 0, 0.2), ("A", 1, -1.0), ("A", 2, 0.3), ("A", 3, 0.95)])

    def logic(row, _state):
        if row["v"] < 0:
            return "discard"
        return "commit" if row["v"] > 0.9 else "continue"

    def agg(rows):
        return (len(rows),)

    out = transaction_window_stream(
        ch.stream(), ["k"], "seq", logic, agg=agg, out_extra_schema="n long"
    )
    got = {(r.k, r.window_id, r.n)
           for r in run_to_completion(out.df, output_mode="append")}
    # window 0 (rows 0,1) discarded without output; rows 2,3 commit as
    # window 1 — ids stay monotonic across the discard
    assert got == {("A", 1, 2)}


def test_streaming_transaction_window_matches_batch(ctx):
    """Parity: the same commit logic via the BATCH TransactionWindow
    (window.py) and the streaming operator over identical rows."""
    import random

    from renoir_spark.streaming import transaction_window_stream
    from renoir_spark.window import TransactionWindow
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [
        (k, i, round(rng.random(), 3))
        for k in ("A", "B", "C")
        for i in range(40)
    ]
    ch = ctx.stream_channel("k string, seq long, v double")
    ch.push(rows[:50])
    ch.push(rows[50:])

    def logic(row, _state):
        return "commit" if row["v"] > 0.8 else "continue"

    def agg(rs):
        return (len(rs), round(sum(r["v"] for r in rs), 6))

    out = transaction_window_stream(
        ch.stream(max_files_per_trigger=1), ["k"], "seq", logic,
        agg=agg, out_extra_schema="n long, sum_v double",
    )
    got = {(r.k, r.window_id, r.n, r.sum_v)
           for r in run_to_completion(out.df, output_mode="append")}

    batch = (
        ch.stream_batch()
        .key_by("k")
        .window(TransactionWindow("seq", logic))
        .fold(n=F.count(F.lit(1)), sum_v=F.round(F.sum("v"), 6))
        .collect_vec()
    )
    # batch emits ALL windows including the uncommitted tail; streaming
    # append emits only committed ones — compare the committed prefix
    # (every streaming window must appear identically in batch output)
    batch_set = {(r.k, r.window_id, r.n, r.sum_v) for r in batch}
    assert got <= batch_set and len(got) > 0
    # and every batch window except (possibly) each key's LAST one —
    # the open tail — must have been committed by the stream
    tails = {max(t for t in batch_set if t[0] == k) for k in ("A", "B", "C")}
    assert batch_set - tails <= got


def test_streaming_transaction_window_commit_after_watermark(ctx):
    """CommitAfter(ts) (transaction.rs:99-122): the window registers a
    close time; a WATERMARK past it — carried by a later micro-batch
    with only OTHER keys' rows — fires the commit via event-time
    timeout, with no further row for the closing key."""
    from datetime import datetime, timezone

    from renoir_spark.streaming import transaction_window_stream

    def _t(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    ch = ctx.stream_channel("k string, seq long, ts timestamp, v double")
    ch.push([("A", 0, _t(100), 1.0), ("A", 1, _t(110), 2.0)])
    # key B only; its rows advance the watermark to 500-10=490 > 150
    ch.push([("B", 0, _t(500), 9.0)])
    ch.push([("B", 1, _t(600), 9.0)])

    def logic(row, _state):
        # every A row re-registers: close once watermark passes 150s
        return ("commit_after", 150_000_000)  # epoch µs

    def agg(rows):
        return (len(rows), round(sum(r["v"] for r in rows), 6))

    out = transaction_window_stream(
        ch.stream(max_files_per_trigger=1), ["k"], "seq", logic,
        agg=agg, out_extra_schema="n long, sum_v double",
        ts_col="ts", watermark="10 seconds",
    )
    got = {(r.k, r.window_id, r.n, r.sum_v)
           for r in run_to_completion(out.df, output_mode="append")}
    # A's window committed by watermark alone (no third A row); B's
    # windows also pend on commit_after and close as the frontier moves
    assert ("A", 0, 2, 3.0) in got


def test_streaming_last_k_window_rolls_across_batches(ctx):
    """Streaming LastKWindow (last_k.rs:90-105): every element emits the
    trailing <=k aggregate; the buffer must carry across micro-batches
    (A's fourth element sums values from both pushes)."""
    from renoir_spark.streaming import last_k_window_stream

    ch = ctx.stream_channel("k string, seq long, v double")
    ch.push([("A", 0, 1.0), ("A", 1, 2.0), ("B", 0, 10.0)])
    ch.push([("A", 2, 3.0), ("A", 3, 4.0), ("B", 1, 20.0)])

    out = last_k_window_stream(
        ch.stream(max_files_per_trigger=1), ["k"], "seq", "v", k=3
    )
    got = {(r.k, r.seq, r.n, r.sum_v)
           for r in run_to_completion(out.df, output_mode="append")}
    assert got == {
        ("A", 0, 1, 1.0),
        ("A", 1, 2, 3.0),
        ("A", 2, 3, 6.0),     # 1+2+3
        ("A", 3, 3, 9.0),     # 2+3+4 — rolled across the push boundary
        ("B", 0, 1, 10.0),
        ("B", 1, 2, 30.0),    # 10+20 across batches
    }


def test_windowed_top_k_stream_equals_batch(ctx, stream_dir):
    """rolling_top_words streaming form: per-window top-2 user ids by
    event count; unbounded (chained stateful aggs + collect_list top-k)
    must match the bounded run of the same plan for finalized windows."""
    from renoir_spark.streaming import windowed_top_k_stream

    unbounded = ctx.from_df(
        ctx.spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")
    )
    got = run_to_completion(
        windowed_top_k_stream(
            unbounded, "ts", "user_id", size=120.0, k=2,
            watermark="10 seconds",
        ).df,
        output_mode="append",
    )
    # the bounded reference excludes batch_3's LATE row (the stream
    # drops it at the watermark; a batch run would count it) — so this
    # also asserts the late-drop contract through the chained aggs
    bounded = ctx.stream_parquet(f"{stream_dir}/batch_[012].parquet")
    exp = windowed_top_k_stream(
        bounded, "ts", "user_id", size=120.0, k=2
    ).collect_vec()
    # the last window cannot finalize (no flush rows past it) — compare
    # the windows the stream emitted, and require at least one
    key = lambda rows, wins: sorted(
        (r.win_s, r.rank, r.user_id, r.n) for r in rows if r.win_s in wins
    )
    emitted = {r.win_s for r in got}
    assert len(emitted) >= 1
    assert key(got, emitted) == key(exp, emitted)


def test_stream_static_dimension_join(ctx, stream_dir):
    """Stream-static enrichment — the slowly-changing-dimension join a
    training pipeline runs on every ingest stream. Spark joins each
    micro-batch against the static relation with NO streaming state
    (nothing to watermark); the declared plan is identical to the batch
    join (renoir has no static-side notion — its analog is a broadcast
    side input via IterationStateHandle)."""
    dim = ctx.spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string"
    )
    s = ctx.from_df(
        ctx.spark.readStream.schema(_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*")  # glob: the batch dirs are nested
    )
    out = s.join(ctx.from_df(dim), "user_id")
    rows = run_to_completion(out.df, output_mode="append")
    got = sorted((r.user_id, r.value, r.tier) for r in rows)
    # every event (including the late one — no state, nothing dropped)
    # carries its dimension row
    assert len(got) == 7
    assert all(t == ("gold" if u == 1 else "basic") for u, _v, t in got)


def test_streaming_heavy_hitters_bounded_state(ctx, tmp_path):
    """heavy_hitters_stream: MG invariants hold after a multi-micro-batch
    drain — candidate sets stay capacity-bounded, every estimate
    under-counts by at most its bucket's max_err, every key with true
    count > max_err survives, and the per-bucket row counts add up."""
    import collections
    import os as _os
    import time as _time

    from renoir_spark.streaming import heavy_hitters_stream, run_to_completion

    rng_keys = (["hot"] * 40 + ["warm"] * 18
                + [f"t{i}" for i in range(30)] * 2)
    batches = [rng_keys[i::3] for i in range(3)]
    d = tmp_path / "hh_stream"
    d.mkdir()
    for i, ks in enumerate(batches):
        df = ctx.spark.createDataFrame([(k,) for k in ks], "k string")
        p = str(d / f"b{i}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        t = _time.time() - 100 + i * 10
        for root, _dirs, files in _os.walk(p):
            for f in files:
                _os.utime(_os.path.join(root, f), (t, t))

    unbounded = ctx.stream_parquet_unbounded(
        f"{d}/*", "k string", max_files_per_trigger=1
    )
    out = heavy_hitters_stream(unbounded, "k", capacity=6, n_buckets=4)
    rows = run_to_completion(out.df, output_mode="update")
    assert rows

    # final emission per bucket = rows at that bucket's max n_bucket
    final = {}
    for r in rows:
        cur = final.get(r.bucket)
        if cur is None or r.n_bucket > cur[0].n_bucket:
            final[r.bucket] = [r]
        elif r.n_bucket == cur[0].n_bucket:
            cur.append(r)

    true = collections.Counter(rng_keys)
    from pyspark.sql import functions as F
    bucket_of = {
        r.k: r.b
        for r in ctx.spark.createDataFrame(
            [(k,) for k in true], "k string"
        ).select(
            "k", F.pmod(F.xxhash64(F.col("k")), F.lit(4)).cast("int").alias("b")
        ).collect()
    }
    n_per_bucket = collections.Counter()
    for k, c in true.items():
        n_per_bucket[bucket_of[k]] += c

    for b, rs in final.items():
        cands = [r for r in rs if r.key is not None]  # drop sentinels
        assert len(cands) <= 6                   # capacity bound
        assert rs[0].n_bucket == n_per_bucket[b]  # counts add up
        err = rs[0].max_err
        for r in cands:
            t_cnt = true[r.key]
            assert r.est <= t_cnt <= r.est + err, (r.key, r.est, t_cnt, err)
        # every key with true count > max_err survives in its bucket
        cand = {r.key for r in cands}
        for k, c in true.items():
            if bucket_of[k] == b and c > err:
                assert k in cand, (k, c, err)
    # the heavy key is present with a tight estimate
    hot_rows = [r for rs in final.values() for r in rs if r.key == "hot"]
    assert hot_rows and hot_rows[0].est >= 40 - hot_rows[0].max_err


# ------------------------------------------------------------------ #
# streaming MinHash fuzzy dedup (two-phase: band verdicts + per-doc OR)
# ------------------------------------------------------------------ #

_MH_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog in the park today"),
    (1, "completely unrelated text about stars planets and galaxies far away"),
    # near-dup of 0 (one word changed -> shingle jaccard >= 0.7... actually
    # verified against the batch operator below, not assumed)
    (2, "the quick brown fox jumps over the lazy dog in the park tonight"),
    (3, "bananas apples oranges pears and grapes make a fine fruit salad"),
    # exact-content dup of 1 up to whitespace
    (4, "completely  unrelated text about stars planets and galaxies far away"),
    # near-dup of 3
    (5, "bananas apples oranges pears and grapes make a fine fruit bowl"),
]


def _mh_stream_survivors(ctx, pushes, *, delay="1 hour", threshold=0.5):
    from renoir_spark.streaming import (
        dedup_minhash_stream,
        minhash_survivors,
        run_to_completion,
    )

    ch = ctx.stream_channel("doc_id long, ts timestamp, text string")
    for rows in pushes:
        ch.push(rows)
    s = ch.stream(max_files_per_trigger=1)  # one micro-batch per push
    verdicts = dedup_minhash_stream(
        s, "text", "doc_id", ts_col="ts", delay=delay,
        num_hashes=12, bands=4, shingle_n=3, threshold=threshold,
    )
    rows = run_to_completion(verdicts.df, output_mode="append")
    bounded = ctx.from_df(
        ctx.spark.createDataFrame(rows, verdicts.df.schema)
    )
    out = minhash_survivors(bounded, "doc_id").collect_vec()
    return {r.doc_id for r in out}, rows


def test_streaming_minhash_dedup_matches_batch_greedy(ctx):
    """Two-phase streaming MinHash dedup == batch dedup_minhash greedy
    rule when event-time order matches id order and the delay covers the
    whole stream. Same signature chain, same bands, same exact-Jaccard
    verification — parity is over the REAL operator, not a mock."""
    t0 = _ts(1000)
    pushes = [
        [(i, t0, txt) for i, txt in _MH_DOCS[:3]],
        [(i, t0, txt) for i, txt in _MH_DOCS[3:]],
    ]
    got, rows = _mh_stream_survivors(ctx, pushes)
    # every doc produced one verdict per band
    assert len(rows) == len(_MH_DOCS) * 4

    batch = ctx.from_df(
        ctx.spark.createDataFrame(
            [(i, txt) for i, txt in _MH_DOCS], "doc_id long, text string"
        )
    ).dedup_minhash(
        "text", "doc_id", num_hashes=12, bands=4, shingle_n=3, threshold=0.5,
    )
    want = {r.doc_id for r in batch.collect_vec()}
    assert got == want
    # sanity: the dataset actually contains duplicates to drop
    assert want != {i for i, _ in _MH_DOCS}


def test_streaming_minhash_dropped_doc_still_drowns_later_copies(ctx):
    """The batch greedy rule is transitive-blind: B (dup of A) is
    dropped but still drowns C (dup of B). The streaming state must keep
    dropped docs too."""
    a = "one two three four five six seven eight nine ten eleven twelve"
    pushes = [
        [(0, _ts(1000), a)],
        [(1, _ts(1001), a)],  # dup of 0 -> dropped
        [(2, _ts(1002), a)],  # dup of 1 (and 0) -> dropped
    ]
    got, _ = _mh_stream_survivors(ctx, pushes)
    assert got == {0}


def test_streaming_minhash_state_evicted_past_watermark_delay(ctx):
    """A duplicate arriving AFTER the watermark delay horizon survives:
    the band state is bounded by `delay`, not by history (the
    dropDuplicatesWithinWatermark contract for fuzzy dedup)."""
    a = "one two three four five six seven eight nine ten eleven twelve"
    filler = "totally different filler text to advance the watermark frontier now"
    pushes = [
        [(0, _ts(1000), a)],
        [(1, _ts(1400), filler)],   # advances watermark past 1000+delay
        [(2, _ts(1800), a)],        # same content, far outside horizon
    ]
    got, _ = _mh_stream_survivors(ctx, pushes, delay="10 seconds")
    assert got == {0, 1, 2}


def test_streaming_minhash_survivors_streaming_phase2(ctx, tmp_path):
    """Phase 2 itself runs as a STREAMING query over the spooled
    verdicts (watermarked append-mode agg grouped on (id, ts)) — the
    materialize handoff pattern the operator documents. A trailing
    flush doc advances the watermark so every real group closes before
    the availableNow drain ends (append-mode groups need wm > ts)."""
    from renoir_spark.streaming import (
        dedup_minhash_stream,
        foreach_batch,
        minhash_survivors,
        run_to_completion,
    )

    flush = (99, _ts(9000), "flush row far in the future to advance the watermark")
    pushes = [
        [(i, _ts(1000 + i), txt) for i, txt in _MH_DOCS[:3]],
        [(i, _ts(1000 + i), txt) for i, txt in _MH_DOCS[3:]],
        [flush],
    ]
    ch = ctx.stream_channel("doc_id long, ts timestamp, text string")
    for rows in pushes:
        ch.push(rows)
    verdicts = dedup_minhash_stream(
        ch.stream(max_files_per_trigger=1), "text", "doc_id",
        ts_col="ts", delay="1 hour", threshold=0.5,
    )
    spool = str(tmp_path / "verdicts")
    os.makedirs(spool, exist_ok=True)

    def _sink(batch_df, _bid):
        if batch_df.count():
            # one file per micro-batch: a doc's band verdicts travel together
            batch_df.coalesce(1).write.mode("append").parquet(spool)

    foreach_batch(verdicts.df, _sink)
    resumed = ctx.stream_parquet_unbounded(
        spool, "doc_id long, ts timestamp, bidx int, matched boolean",
        max_files_per_trigger=1,
    )
    out = minhash_survivors(resumed, "doc_id", delay="5 seconds")
    got = {r.doc_id for r in run_to_completion(out.df, output_mode="append")}

    batch_out = minhash_survivors(
        ctx.stream_parquet(spool), "doc_id"
    ).collect_vec()
    # every real group closed (wm passed all real ts); the flush doc's own
    # group may or may not have closed — compare on the real docs only
    assert got - {flush[0]} == {r.doc_id for r in batch_out} - {flush[0]}
    assert {i for i, _ in _MH_DOCS} - got  # something was actually dropped


def test_delay_us_parses_spark_interval_grammar():
    from renoir_spark.streaming import _delay_us

    assert _delay_us("10 minutes") == 600_000_000
    assert _delay_us("1 minute 30 seconds") == 90_000_000
    assert _delay_us("2 weeks") == 2 * 604_800_000_000
    assert _delay_us("1 hour") == 3_600_000_000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _delay_us("10 fortnights")
    with _pytest.raises(ValueError):
        _delay_us("10")


# ------------------------------------------------------------------ #
# streaming incremental ingest: foreachBatch + persisted dedup index
# ------------------------------------------------------------------ #

def test_streaming_incremental_ingest_foreach_batch(ctx, spark, tmp_path):
    """The production ingest loop driven by Structured Streaming: each
    micro-batch dedups against the persisted index (corpus + every
    PRIOR micro-batch's survivors) and appends what it keeps — the
    ordering contract foreachBatch guarantees (batches run serially).
    maxFilesPerTrigger=1 forces one increment per micro-batch, so a
    doc duplicated across increments must survive only in the first."""
    from renoir_spark.streaming import foreach_batch

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "spark structured streaming drains files in order"),
    ]
    inc1 = [
        (10, "a genuinely new document about training corpora"),
        (11, "spark structured streaming drains files in order"),  # dup of 2
    ]
    inc2 = [
        (20, "a genuinely new document about training corpora"),   # dup of 10
        (21, "another fresh document unlike anything indexed yet"),
    ]
    corpus = ctx.from_df(
        spark.createDataFrame(corpus_rows, "doc_id long, text string")
    )
    idx_path = str(tmp_path / "sidx")
    corpus.dedup_index_build(idx_path, text_col="text", id_col="doc_id",
                             bucket_dirs=8)
    idx = ctx.dedup_index(idx_path)

    feed = str(tmp_path / "feed")
    # one parquet file per increment, written in arrival order
    spark.createDataFrame(inc1, "doc_id long, text string").coalesce(1) \
        .write.mode("overwrite").parquet(f"{feed}/f1")
    spark.createDataFrame(inc2, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(f"{feed}/f2")

    kept: list = []

    def ingest(batch_df, batch_id):
        b = ctx.from_df(batch_df)
        surv = idx.dedup_batch(b, threshold=0.7)
        idx.append(surv)
        kept.extend(r.doc_id for r in surv.df.select("doc_id").collect())

    s = ctx.stream_parquet_unbounded(
        f"{feed}/*", "doc_id long, text string", max_files_per_trigger=1
    )
    foreach_batch(s.df, ingest)

    # 11 duplicates the corpus; 20 duplicates increment-1 survivor 10
    # (visible only because append ran between the micro-batches)
    assert sorted(kept) == [10, 21]


# ------------------------------------------------------------------ #
# dedup_embedding_stream: streaming SEMANTIC dedup
# ------------------------------------------------------------------ #

def _emb_stream_survivors(ctx, pushes, *, delay="1 hour", threshold=0.95):
    from renoir_spark.streaming import dedup_embedding_stream, run_to_completion

    ch = ctx.stream_channel(
        "vec_id long, ts timestamp, embedding array<double>"
    )
    for rows in pushes:
        ch.push(rows)
    s = ch.stream(max_files_per_trigger=1)
    verdicts = dedup_embedding_stream(
        s, "embedding", "vec_id", ts_col="ts", delay=delay,
        threshold=threshold, n_planes=6, dim=4,
    )
    rows = run_to_completion(verdicts.df, output_mode="append")
    return {r.vec_id for r in rows if not r.matched}, rows


def _emb_vecs():
    # 0 and 2 are positive scalings (cos exactly 1); 1/3/4 near-orthogonal
    return [
        (0, [1.0, 0.2, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.1, 0.0]),
        (2, [2.0, 0.4, 0.0, 0.0]),    # dup of 0
        (3, [0.0, 0.0, 1.0, 0.3]),
        (4, [0.3, -1.0, 0.0, 0.8]),
    ]


def test_streaming_embedding_dedup_matches_batch_greedy(ctx):
    """Streaming semantic dedup == batch dedup_embedding when event-time
    order matches id order and the delay covers the stream — same
    sign-LSH buckets, same IEEE cosine recipe."""
    t0 = _ts(1000)
    vecs = _emb_vecs()
    pushes = [[(i, t0, v) for i, v in vecs[:3]],
              [(i, t0, v) for i, v in vecs[3:]]]
    got, rows = _emb_stream_survivors(ctx, pushes)
    assert len(rows) == len(vecs)  # exactly one verdict per vector

    batch = ctx.from_df(ctx.spark.createDataFrame(
        [(i, v) for i, v in vecs], "vec_id long, embedding array<double>"
    )).dedup_embedding(threshold=0.95, n_planes=6, dim=4)
    want = {r.vec_id for r in batch.df.select("vec_id").collect()}
    assert got == want
    assert 2 not in got  # the planted dup really dropped


def test_streaming_embedding_dropped_vector_still_drowns_later_copies(ctx):
    v = [1.0, 0.5, -0.25, 0.0]
    pushes = [
        [(0, _ts(1000), v)],
        [(1, _ts(1001), [2.0 * x for x in v])],  # dup of 0 -> dropped
        [(2, _ts(1002), [3.0 * x for x in v])],  # dup of 1 too -> dropped
    ]
    got, _ = _emb_stream_survivors(ctx, pushes)
    assert got == {0}


def test_streaming_embedding_state_evicted_past_delay(ctx):
    v = [1.0, 0.5, -0.25, 0.0]
    other = [0.0, 0.0, 1.0, -1.0]
    pushes = [
        [(0, _ts(1000), v)],
        [(1, _ts(1400), other)],           # advances the watermark
        [(2, _ts(1800), [1.5 * x for x in v])],  # outside the horizon
    ]
    got, _ = _emb_stream_survivors(ctx, pushes, delay="10 seconds")
    assert got == {0, 1, 2}


# ------------------------------------------------------------------ #
# the whole streaming dedup family: one kernel, one ordering contract
# ------------------------------------------------------------------ #

def _ph_stream_survivors(ctx, pushes, *, delay="1 hour"):
    from renoir_spark.streaming import (
        dedup_phash_stream,
        minhash_survivors,
        run_to_completion,
    )

    ch = ctx.stream_channel("id long, ts timestamp, features array<float>")
    for rows in pushes:
        ch.push(rows)
    verdicts = dedup_phash_stream(
        ch.stream(max_files_per_trigger=1), "features", "id", ts_col="ts",
        delay=delay, bits=8, bands=4, max_hamming=1,
    )
    rows = run_to_completion(verdicts.df, output_mode="append")
    bounded = ctx.from_df(ctx.spark.createDataFrame(rows, verdicts.df.schema))
    return {r.id for r in minhash_survivors(bounded, "id").collect_vec()}, rows


# operator -> (survivor runner, an item that its own copy duplicates)
_FAMILY = {
    "minhash": (
        _mh_stream_survivors,
        "one two three four five six seven eight nine ten eleven twelve",
    ),
    "phash": (_ph_stream_survivors, [0.9, 0.1, 0.9, 0.1, 0.9, 0.1, 0.9, 0.1]),
    "embedding": (_emb_stream_survivors, [1.0, 0.5, -0.25, 0.0]),
}


@pytest.mark.parametrize("op", list(_FAMILY))
def test_streaming_out_of_order_never_drops_event_time_winner(ctx, op):
    """An out-of-order arrival (later push, EARLIER event time, within
    the watermark delay) must not be drowned by the later-ts item whose
    verdict already shipped: matching is restricted to strictly-earlier
    (ts, id) state, so disorder degrades to keeping both — it can never
    invert who survives."""
    survivors, item = _FAMILY[op]
    pushes = [
        [(1, _ts(2000), item)],  # later event time arrives FIRST
        [(0, _ts(1995), item)],  # event-time winner arrives second
    ]
    got, _ = survivors(ctx, pushes, delay="1 hour")
    assert got == {0, 1}  # both kept; item 0 was NOT matched against item 1
    # and the in-order run of the same data drops the later item
    got2, _ = survivors(ctx, pushes[::-1], delay="1 hour")
    assert got2 == {0}
