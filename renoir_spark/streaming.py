"""Structured Streaming slice — unbounded sources, watermarks, windows.

Reference parity: renoir is streaming-first; every operator consumes
``StreamElement::{Item, Timestamped, Watermark}`` and event-time windows
close on the watermark frontier (src/operator/start/watermark_frontier.rs:
7-60, contract src/operator/mod.rs:142-144 — a watermark t promises no later
element ≤ t; late data is assumed not to exist). Spark's equivalents:
``readStream`` sources, ``withWatermark`` (drop-late-rows semantics), and
``window``/``session_window`` grouped aggregations, with watermark
propagation across shuffles built in.

The aggregation helpers here take EITHER a batch or a streaming DataFrame —
the same declarative plan runs both ways, which is exactly how the tests
assert streaming/batch parity (run the stream with an ``availableNow``
trigger, compare to the batch run over the same files).

Scale notes: stateful streaming aggs keep per-(key, window) state in the
state store — watermarks bound it; shuffle partitioning of the state is the
same hash exchange as batch, so the sizing rules (partitions vs executor
memory) carry over unchanged.
"""

from __future__ import annotations

import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import named_cols, to_col
from .window import _dur


def event_time_agg(
    stream,
    ts,
    *,
    size: float,
    slide: Optional[float] = None,
    keys: Sequence[str] = (),
    watermark: Optional[str] = None,
    **aggs,
):
    """Tumbling/sliding event-time windowed aggregation — the streaming
    form of ``EventTimeWindow`` (src/operator/window/descr/event_time.rs:
    112-129). Works identically on bounded input (parity harness)."""
    df = stream.df.withColumn("__ets", to_col(ts).cast("timestamp"))
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("__ets", watermark)
    win = F.window("__ets", _dur(size), _dur(slide or size))
    out = df.groupBy(*[F.col(k) for k in keys], win.alias("__win")).agg(
        *named_cols((), aggs)
    )
    return stream._new(
        out.select(
            *keys,
            F.col("__win.start").alias("win_start"),
            F.col("__win.end").alias("win_end"),
            *aggs.keys(),
        )
    )


def session_agg(
    stream,
    ts,
    *,
    gap: float,
    keys: Sequence[str] = (),
    watermark: Optional[str] = None,
    **aggs,
):
    """Session-windowed aggregation via the native ``session_window``
    (streaming state-store implementation; also runs on bounded input) —
    the streaming form of ``SessionWindow`` (session.rs:67-76)."""
    df = stream.df.withColumn("__ets", to_col(ts).cast("timestamp"))
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("__ets", watermark)
    win = F.session_window("__ets", _dur(gap))
    out = df.groupBy(*[F.col(k) for k in keys], win.alias("__win")).agg(
        *named_cols((), aggs)
    )
    return stream._new(
        out.select(
            *keys,
            F.col("__win.start").alias("win_start"),
            F.col("__win.end").alias("win_end"),
            *aggs.keys(),
        )
    )


def run_to_completion(
    df: DataFrame,
    *,
    output_mode: str = "complete",
    max_files_per_trigger: Optional[int] = None,
    timeout_s: int = 120,
    telemetry: Optional[list] = None,
) -> list:
    """Test/verification harness: drain a streaming DataFrame with an
    ``availableNow`` trigger into a memory sink and return the collected
    rows. ``max_files_per_trigger`` (set on the source) splits the drain
    into multiple micro-batches so watermark advancement between batches
    is exercised (renoir's WatermarkFrontier analog).

    ``telemetry`` (optional caller-owned list): receives one state-store
    summary dict per drained query (see :func:`state_telemetry`) — how
    the bench proves the watermark actually BOUNDS stateful-operator
    state instead of asserting it."""
    name = "mem_" + uuid.uuid4().hex[:12]
    cap = None
    prior_cap = None
    conf = df.sparkSession.conf
    if telemetry is not None:
        # recentProgress keeps only the last
        # spark.sql.streaming.numRecentProgressUpdates entries (default
        # 100): a drain with more micro-batches would silently
        # under-report state_rows_peak/removed. Raise the retention for
        # THIS drain only — the prior value is restored in the finally
        # block so a telemetry run doesn't change session behavior for
        # subsequent streaming work (ADVICE round 6) — and pass the
        # effective cap through so state_telemetry can flag any
        # residual truncation.
        prior_cap = conf.get("spark.sql.streaming.numRecentProgressUpdates",
                             "100") or "100"
        cap = int(prior_cap)
        if cap < 10_000:
            conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
            cap = 10_000
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        if telemetry is not None:
            try:
                telemetry.append(state_telemetry(q, cap=cap))
            except Exception:  # pragma: no cover - defensive: never
                pass           # let metrics kill the drain itself
            if prior_cap is not None and cap != int(prior_cap):
                conf.set(
                    "spark.sql.streaming.numRecentProgressUpdates",
                    prior_cap,
                )
        if q.isActive:  # pragma: no cover - timeout path
            q.stop()
    return df.sparkSession.table(name).collect()


def state_telemetry(q, *, cap: Optional[int] = None) -> dict:
    """State-store metrics aggregated over a query's recentProgress:
    peak and final row/byte counts per run, plus rows REMOVED (the
    watermark-eviction evidence) and the micro-batch count. Works on
    stateless queries too (all zeros).

    ``recentProgress`` retains only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` updates (default
    100) — drains with more micro-batches than that report TRUNCATED
    peaks. :func:`run_to_completion` raises the retention to 10k for
    telemetry runs and passes the effective limit as ``cap``; when the
    observed batch count still reaches it, ``progress_capped`` is set
    so the bench records the under-report instead of hiding it."""
    import json as _json

    progresses = []
    for p in q.recentProgress:
        if isinstance(p, dict):
            progresses.append(p)
        else:  # pragma: no cover - older PySpark returns objects
            progresses.append(_json.loads(p.json))
    out = {
        "batches": len(progresses),
        "progress_capped": cap is not None and len(progresses) >= cap,
        "state_rows_peak": 0,
        "state_rows_final": 0,
        "state_bytes_peak": 0,
        "state_rows_removed": 0,
        "state_rows_updated": 0,
    }
    for p in progresses:
        rows = sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        byts = sum(
            op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", [])
        )
        out["state_rows_peak"] = max(out["state_rows_peak"], rows)
        out["state_bytes_peak"] = max(out["state_bytes_peak"], byts)
        out["state_rows_final"] = rows
        out["state_rows_removed"] += sum(
            op.get("numRowsRemoved", 0) for op in p.get("stateOperators", [])
        )
        out["state_rows_updated"] += sum(
            op.get("numRowsUpdated", 0) for op in p.get("stateOperators", [])
        )
    return out


def foreach_batch(df: DataFrame, fn, *, timeout_s: int = 120):
    """renoir ``collect_channel``/``for_each`` for streams: ``fn(batch_df,
    batch_id)`` runs per micro-batch (``foreachBatch``); drains with
    availableNow and blocks until done."""
    q = df.writeStream.foreachBatch(fn).trigger(availableNow=True).start()
    try:
        q.awaitTermination(timeout_s)
    finally:
        if q.isActive:  # pragma: no cover
            q.stop()
    return q


def dedup_exact_stream(stream, text_col: str, *, ts_col: str, delay: str = "10 minutes"):
    """Streaming exact content dedup — the unbounded form of
    ``Stream.dedup_exact``: normalize → sha2 content key →
    ``dropDuplicatesWithinWatermark``. The dedup state is BOUNDED by the
    watermark delay (a key older than watermark − delay is evicted), so
    state stays O(arrival rate × delay) instead of O(all history) — the
    practical contract for a training-data ingest stream where true
    duplicates arrive close together. Keeps each content key's FIRST
    arrival. Runs on bounded frames too (plain dropDuplicates) for
    parity testing."""
    from .datapipe import norm_text

    df = stream.df.withColumn("__ck", F.sha2(norm_text(text_col), 256))
    if df.isStreaming:
        out = df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(["__ck"])
    else:
        out = _first_arrival(df, "__ck", ts_col)
    return stream._new(out.drop("__ck"))


def _first_arrival(df: DataFrame, key: str, ts_col: str) -> DataFrame:
    """Deterministic bounded-path analog of the streaming first-arrival
    keep: plain ``dropDuplicates`` keeps an ARBITRARY row per key
    (partition-order dependent), so parity tests would only hold for
    counts — rank by (event time, then every other column as the
    tie-break) instead, so reruns and layouts pick the same row."""
    # Tie-break only on ORDERABLE columns: a map<> (or other unorderable
    # type) in the row would make the whole sort an AnalysisException,
    # and sorting full wide rows is wasted work anyway — unorderable
    # columns get ranked by a deterministic hash instead, which keeps
    # the pick stable across reruns/layouts without ordering the value.
    dtypes = dict(df.dtypes)
    others = []
    for c in sorted(c for c in df.columns if c not in (key, ts_col)):
        if dtypes[c].startswith(("map<", "variant")):
            others.append(F.xxhash64(F.col(c).cast("string")))
        else:
            others.append(F.col(c))
    w = Window.partitionBy(key).orderBy(F.col(ts_col), *others)
    return (
        df.withColumn("__fa_rn", F.row_number().over(w))
        .filter(F.col("__fa_rn") == 1)
        .drop("__fa_rn")
    )


def dedup_url_stream(stream, url_col: str, *, ts_col: str,
                     delay: str = "10 minutes"):
    """Streaming canonical-URL dedup — the unbounded form of
    ``Stream.dedup_url`` for a live crawl frontier: canonicalize the
    URL (prep.canonical_url, pure map-side) and keep each canonical
    page's FIRST arrival via ``dropDuplicatesWithinWatermark``. Same
    bounded-state contract as :func:`dedup_exact_stream` (state is
    O(arrival rate × delay)); crawl re-fetch variants of one page —
    case/port/tracking-param/fragment spellings — arrive close
    together, which is exactly the regime the watermark bound serves.
    The emitted rows keep the RAW url plus ``canon_url``. Runs on
    bounded frames too (plain dropDuplicates) for parity testing."""
    from .prep import canonical_url

    df = stream.df.withColumn("canon_url", canonical_url(url_col))
    if df.isStreaming:
        out = df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            ["canon_url"]
        )
    else:
        out = _first_arrival(df, "canon_url", ts_col)
    return stream._new(out)


_DELAY_UNITS = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def _delay_us(delay: str) -> int:
    """Parse a Spark-style interval string ('10 minutes',
    '1 minute 30 seconds') to microseconds — the same value-unit pair
    grammar ``withWatermark`` accepts."""
    toks = delay.strip().lower().split()
    if not toks or len(toks) % 2:
        raise ValueError(f"cannot parse watermark delay {delay!r}")
    total = 0
    for n, unit in zip(toks[::2], toks[1::2]):
        try:
            total += int(float(n) * _DELAY_UNITS[unit.rstrip("s")])
        except (KeyError, ValueError) as exc:
            raise ValueError(f"cannot parse watermark delay {delay!r}") from exc
    return total


def _kmv_jaccard_ge(sa: set, sb: set, k: int, threshold: float) -> bool:
    """Bottom-k (KMV) Jaccard test: with each side holding the k
    smallest distinct hashes of ITS OWN set, the k smallest of the
    union are exactly the k smallest of ``sa ∪ sb`` (any union-bottom-k
    element is bottom-k of whichever side contains it), and the
    fraction of them present in BOTH sides is the standard KMV Jaccard
    estimate (Beyer et al.) — exact when |A ∪ B| ≤ k, ~1/√k error
    otherwise. Two empty signatures never match (the exact path's
    empty-union pin)."""
    u = sorted(sa | sb)[:k]
    if not u:
        return False
    inter = sum(1 for v in u if v in sa and v in sb)
    return inter / len(u) >= threshold


def _bucket_state_dedup(
    stream,
    name: str,
    src,
    id_col: str,
    *,
    delay: str,
    parse,
    match,
    bucket_cap: Optional[int] = None,
    out_cols: Sequence[str] = ("bidx",),
):
    """The one keyed stateful kernel of the streaming near-duplicate
    family (:func:`dedup_minhash_stream`, :func:`dedup_phash_stream`,
    :func:`dedup_embedding_stream`): a greedy in-bucket match on
    ``applyInPandasWithState``. Each operator supplies only its JVM
    signature chain ``src`` (one row per (item, bucket) with ``__id``,
    ``__ts``, the state key ``__g`` and whatever ``parse`` and
    ``out_cols`` read) and two functions:

    - ``parse(rec) -> (bucket, payload)``: the row's bucket key and the
      payload tuple stored after ``(id, ts_us)`` in its state entry. A
      ``None`` bucket never matches and never enters state;
    - ``match(payload, entry) -> bool``: the verify test against one
      earlier state entry.

    Family contract. The state key is ``hash(bucket) % state_groups``
    with a per-bucket dict inside each group — semantics are identical
    (a row is only compared against ITS bucket's entries), while the
    per-key Python-call overhead stops scaling with bucket cardinality:
    band buckets are mostly singletons, and one pandas call per bucket
    measured 18 s for a 5k-doc drain vs 6 s with 1024 coarse groups
    (same output). ``state_groups`` is the parallelism-vs-call-overhead
    dial: keep it a few × the state-store partition count. Bucket state
    holds the entries of the last ``delay`` of event time, evicted by
    watermark (an entry only drowns copies arriving within ``delay`` of
    it — the dropDuplicatesWithinWatermark contract), with an
    ``EventTimeTimeout`` to clear idle groups. Rows are processed in
    (ts, id) order within a micro-batch, and an item enters state even
    when itself a duplicate — exactly the batch greedy rule (a dropped
    item still drowns later copies). Matching is restricted to
    STRICTLY-EARLIER ``(ts, id)`` state entries, so an out-of-order
    arrival (legal within the delay) can only degrade to keeping both
    copies — it can never retroactively drop the event-time winner whose
    verdict already shipped. ``bucket_cap=n`` keeps each bucket's ``n``
    most-recent (event time, id) entries: bounded state AND bounded
    per-row match cost under a one-bucket flood.

    Emits ``(id, ts, *out_cols, matched)`` per row. State is
    ``{bucket: [(id, ts_us, *payload), …]}`` as pickled bytes, NOT JSON
    text: the s05 30× curve showed the per-batch loads/dumps of every
    in-horizon payload as the dominant superlinear cost, and pickle
    round-trips native sets/tuples/double arrays as they are.

    Reference parity: renoir's keyed stateful map
    (src/operator/mod.rs:2740-2746) + the watermark-frontier eviction
    contract (src/operator/start/watermark_frontier.rs:7-60)."""
    import pickle as _pickle

    import pandas as pd

    df = stream.df
    if not df.isStreaming:
        raise ValueError(
            f"dedup_{name}_stream needs an unbounded stream; use "
            f"Stream.dedup_{name} for bounded data"
        )
    delay_us = _delay_us(delay)
    id_t = dict(df.dtypes)[id_col]
    out_names = [id_col, "ts", *out_cols, "matched"]
    out_schema = ", ".join(
        [f"{id_col} {id_t}", "ts timestamp",
         *(f"{c} int" for c in out_cols), "matched boolean"]
    )

    def _fn(key, pdf_iter, state):
        store = _pickle.loads(bytes(state.get[0])) if state.exists else {}
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            store = {
                bk: kept
                for bk, es in store.items()
                if (kept := [e for e in es if e[1] >= wm_us - delay_us])
            }
        out = []
        if not state.hasTimedOut:
            pdfs = list(pdf_iter)
            pdf = pd.concat(pdfs, ignore_index=True) if pdfs else None
            if pdf is not None and len(pdf):
                pdf = pdf.sort_values(["__ts", "__id"])
                for rec in pdf.to_dict("records"):
                    bk, payload = parse(rec)
                    row = (rec["__id"], rec["__ts"],
                           *[rec[c] for c in out_cols])
                    if bk is None:
                        out.append((*row, False))
                        continue
                    entries = store.setdefault(bk, [])
                    ts_us = int(rec["__ts"].value // 1000)
                    me = (ts_us, rec["__id"])
                    out.append((*row, any(
                        (e[1], e[0]) < me and match(payload, e)
                        for e in entries
                    )))
                    entries.append((rec["__id"], ts_us, *payload))
                    if bucket_cap is not None and len(entries) > bucket_cap:
                        entries.sort(key=lambda e: (e[1], e[0]))
                        del entries[: len(entries) - bucket_cap]
        if store:
            state.update((_pickle.dumps(store, _pickle.HIGHEST_PROTOCOL),))
            max_ts_ms = max(e[1] for es in store.values() for e in es) // 1000
            state.setTimeoutTimestamp(
                max(max_ts_ms + delay_us // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_names)

    return stream._new(
        src.withWatermark("__ts", delay)
        .groupBy("__g")
        .applyInPandasWithState(
            _fn, out_schema, "s binary", "append", "EventTimeTimeout"
        )
    )


def dedup_minhash_stream(
    stream,
    text_col: str,
    id_col: str,
    *,
    ts_col: str,
    delay: str = "10 minutes",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    state_groups: int = 1024,
    state_kmv: Optional[int] = None,
    bucket_cap: Optional[int] = None,
):
    """Streaming MinHash-LSH near-duplicate detection — the unbounded
    form of :func:`~renoir_spark.datapipe.dedup_minhash`'s greedy rule:
    a document is a duplicate iff some EARLIER document (event time,
    ties by id — the streaming analog of batch's smaller-id rule)
    within the watermark horizon shares an LSH band bucket AND passes
    exact shingle-Jaccard >= ``threshold`` (the batch operator's IEEE
    comparison, size(intersect)/size(union)). State keys, eviction,
    ordering, strictly-earlier matching and ``state_groups`` follow the
    family contract of :func:`_bucket_state_dedup`; the bucket is
    ``(bidx, bhash)`` and each entry is ``(id, ts_us, shingle set)``.

    Emits one VERDICT row per (document, band):
    ``(id, ts, bidx, matched)`` — reduce to per-document survivors with
    :func:`minhash_survivors`. The two stages cannot live in one query:
    Spark (correctly) rejects stateful operators downstream of
    ``applyInPandasWithState`` because custom state logic may emit rows
    behind the global watermark — so the verdict stream is spooled
    through a :meth:`~renoir_spark.stream.Stream.materialize`-style
    parquet handoff (or ``foreachBatch``) and the per-doc OR runs as its
    own query. This is the same phase pattern as the s01 bench leg.

    Spark-first shape: the signature chain (normalize → shingles →
    minhash → band hashes) is the SAME Column expression pipeline as the
    batch operator — only candidate matching moves into
    ``applyInPandasWithState``.

    Scale: state is O(arrival rate x delay) overall, spread over
    ``state_groups`` keys; the shingle sets DO ride the band explode
    here (``bands`` copies) because verification needs them inside the
    state store — the batch operator's re-attach trick has no streaming
    analog. Verification work per row is |bucket| set intersections,
    the same in-bucket cost as the batch equi-join.

    ``state_kmv=k`` bounds the PER-DOC state: instead of the full
    shingle set, state holds the doc's k smallest distinct shingle
    hashes (a KMV signature, computed JVM-side so the Arrow transfer
    shrinks too), and the verify becomes the bottom-k estimator
    :func:`~renoir_spark.datapipe.corpus_overlap_kmv` uses — Jaccard ≈
    |bottom_k(A∪B) ∩ A ∩ B| / |bottom_k(A∪B)| (Beyer et al., public
    knowledge), EXACT whenever the two docs' combined distinct
    shingles number ≤ k (the union's bottom-k is then the union
    itself — two docs each under k can still unite to 2k, which is
    estimated) and within the standard KMV error envelope (~1/√k)
    otherwise. At a 100 TB stream the
    watermark horizon's DOC COUNT is what bounds state, and per-doc
    bytes drop from the full shingle set (~20+ B/shingle, unbounded per
    doc) to 8k bytes flat — the s05 shape's dominant state term
    (docs/SCALING.md). Default off: exact shingle Jaccard.

    ``bucket_cap=n`` (default off) bounds the PER-BUCKET entry list to
    the ``n`` most-recent (event time, id) docs — the streaming form of
    the batch family's df-cutoff (:func:`dedup_phash_stream` got the
    same dial in round 9). A boilerplate shingle band (every doc
    sharing a banner/license sentence) floods ONE bucket with the
    whole horizon's docs: state grows with the stream AND every
    arrival pays a full-bucket scan — the same per-bucket quadratic
    the batch ``bucket_cap`` kills. Miss contract mirrors the batch
    dial: a true near-dup pair is missed only if EVERY band the two
    docs share was flooded past ``n`` between their arrivals — and an
    over-crowded bucket is by definition a NON-discriminative band,
    where ~all pairs are false candidates anyway (flood-parity test in
    tests/test_round10.py; measured row in docs/SCALING.md).
    """
    from .datapipe import minhash_bands_expr

    df = stream.df
    sig = minhash_bands_expr(
        df.select(
            F.col(id_col).alias("__id"),
            to_col(ts_col).cast("timestamp").alias("__ts"),
            F.col(text_col).alias("__text"),
        ),
        "__text",
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    kmv_k = int(state_kmv) if state_kmv is not None else None
    if kmv_k is not None:
        if kmv_k < 1:
            raise ValueError("state_kmv must be >= 1")
        from .datapipe import md5_int31

        # per-doc bottom-k shingle-hash signature, JVM-side: the state
        # store AND the Arrow hop carry <= k ints per doc instead of
        # the full shingle-string set (__sh stays the verify payload
        # column either way — only its representation changes)
        sig = sig.withColumn(
            "__sh",
            F.slice(
                F.array_sort(F.array_distinct(
                    F.transform(F.col("__sh"), lambda s: md5_int31(s))
                )),
                1, kmv_k,
            ),
        )
    src = (
        sig.select(
            "__id", "__ts", "__sh", F.explode("__bands").alias("__b")
        )
        .select(
            "__id", "__ts", "__sh",
            F.col("__b.bidx").alias("bidx"),
            F.col("__b.bhash").alias("bhash"),
        )
        .withColumn(
            "__g", F.pmod(F.hash("bidx", "bhash"), F.lit(state_groups))
        )
    )

    def parse(rec):
        sh = (set(map(int, rec["__sh"])) if kmv_k is not None
              else set(rec["__sh"]))
        return (int(rec["bidx"]), int(rec["bhash"])), (sh,)

    if kmv_k is not None:
        def match(p, e):
            return _kmv_jaccard_ge(p[0], e[2], kmv_k, threshold)
    else:
        def match(p, e):
            u = len(p[0] | e[2])
            return u > 0 and len(p[0] & e[2]) / u >= threshold

    return _bucket_state_dedup(
        stream, "minhash", src, id_col, delay=delay, parse=parse,
        match=match, bucket_cap=bucket_cap,
    )


def dedup_phash_stream(
    stream,
    features_col: str,
    id_col: str,
    *,
    ts_col: str,
    delay: str = "10 minutes",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    state_groups: int = 1024,
    bucket_cap: Optional[int] = None,
):
    """Streaming PERCEPTUAL-HASH near-duplicate detection for decoded
    media — the unbounded form of
    :func:`~renoir_spark.datapipe.dedup_phash`'s greedy rule: an item
    is a duplicate iff some EARLIER item (event time, ties by id)
    within the watermark horizon shares an LSH band of its signature
    AND sits within Hamming distance ``max_hamming``. Completes the
    streaming dedup family for the multimodal layer (exact / URL /
    MinHash / semantic / perceptual); state, eviction and matching
    follow the family contract of :func:`_bucket_state_dedup`.

    Emits one VERDICT row per (item, band): ``(id, ts, bidx, matched)``
    — the SAME verdict schema as :func:`dedup_minhash_stream`, so
    :func:`minhash_survivors` reduces it unchanged (an item survives
    iff no band matched; the two stages are separate queries for the
    same applyInPandasWithState-downstream reason documented there).

    Spark-first shape: the signature is the batch operator's
    :func:`~renoir_spark.datapipe.phash_expr` Column (bit-identical
    verdict rule), computed map-side on the decoded feature array —
    typically straight after a ``decode_image(n_features=bits)`` stage
    in the same streaming query; only band matching is Python state.
    State per ``(bidx, bval)`` band bucket holds (id, ts_us,
    signature-long) — ~24 bytes/entry, the LIGHTEST of the streaming
    dedup family (no shingle sets, no vectors). An item with NULL
    features has no decoded evidence: it is never a duplicate and never
    drowns others (batch parity: NULL band values join nothing).

    ``bits`` must not exceed the decode stage's feature count — bands
    past the features are constant zero and every row becomes a
    candidate pair (the measured quadratic band trap, docs/SCALING.md);
    there is no auto-dial here because a streaming plan cannot probe a
    first row.

    ``bucket_cap=n`` (default off) is the batch operator's df-cutoff
    in streaming form: each band bucket's state keeps only its ``n``
    MOST-RECENT entries by (event time, id) — a constant-band flood
    (letterbox black frames, a codec-default band) otherwise grows one
    bucket's state and per-row match cost without limit inside the
    watermark horizon. Miss contract, mirrored from batch: an item's
    duplicate verdict is lost only if in EVERY band the two share, the
    earlier copy has been pushed out by ≥ ``n`` newer entries — and in
    a flooded bucket the newest entries are near-certain matches for a
    true duplicate anyway (planted test)."""
    from .datapipe import band_split_expr, phash_expr

    assert bits % bands == 0 and bits <= 62
    sig = stream.df.select(
        F.col(id_col).alias("__id"),
        to_col(ts_col).cast("timestamp").alias("__ts"),
        phash_expr(to_col(features_col), bits).alias("__ph"),
    )
    src = (
        sig.select(
            "__id", "__ts", "__ph",
            band_split_expr(F.col("__ph"), bands, bits // bands),
        )
        .select(
            "__id", "__ts",
            # NULL signatures travel as an explicit flag + a 0
            # placeholder: a nullable long column widens to float64 on
            # the Arrow→pandas hop (exact only to 2^53), which would
            # silently corrupt the low bits of every 54-62-bit
            # signature sharing the state group's batch — false
            # Hamming matches AND misses. Coalescing keeps the columns
            # int64 end-to-end; flagged rows skip matching exactly as
            # the NULL rows did.
            F.col("__ph").isNull().alias("__ph_null"),
            F.coalesce(F.col("__ph"), F.lit(0).cast("long")).alias("__ph"),
            F.col("__b.bidx").alias("bidx"),
            F.coalesce(F.col("__b.bval"), F.lit(0).cast("long"))
            .alias("bval"),
        )
        .withColumn(
            "__g", F.pmod(F.hash("bidx", "bval"), F.lit(state_groups))
        )
    )

    def parse(rec):
        if rec["__ph_null"]:
            return None, None
        return (int(rec["bidx"]), int(rec["bval"])), (int(rec["__ph"]),)

    def match(p, e):
        return (p[0] ^ e[2]).bit_count() <= max_hamming

    return _bucket_state_dedup(
        stream, "phash", src, id_col, delay=delay, parse=parse,
        match=match, bucket_cap=bucket_cap,
    )


def dedup_embedding_stream(
    stream,
    vec_col: str,
    id_col: str,
    *,
    ts_col: str,
    delay: str = "10 minutes",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    state_groups: int = 256,
):
    """Streaming SEMANTIC (embedding-cosine) near-duplicate detection —
    the unbounded form of :func:`~renoir_spark.datapipe.dedup_embedding`'s
    greedy rule: a vector is a duplicate iff some EARLIER vector (event
    time, ties by id) within the watermark horizon shares its sign-LSH
    bucket AND scores cosine ≥ ``threshold``. Completes the streaming
    dedup family (exact / canonical-URL / MinHash-fuzzy / semantic);
    state, eviction and matching follow the family contract of
    :func:`_bucket_state_dedup`.

    Emits ONE verdict row per vector: ``(id, ts, matched)`` — unlike
    the MinHash variant there is no band explode (one bucket per
    vector), so no second reduction query is needed: survivors are
    ``.filter("NOT matched")``, a stateless filter Spark happily places
    downstream of the custom state operator.

    Spark-first shape: bucket + L2 norm are the SAME JVM Column
    expressions as the batch operator (computed once, map-side); only
    bucket matching is Python state. Bucket state holds (id, ts_us,
    vector as a double array, norm). The cosine is the batch operator's
    exact IEEE recipe (ascending-dim dot fold, zero-norm → 0.0, round 6).

    Scale: state is O(arrival rate × delay) vectors spread over
    ``state_groups`` keys; per-row work is |bucket| dot products — the
    same in-bucket cost as the batch self-join, bounded by the LSH
    bucket granularity (``n_planes`` is the recall-vs-work dial, as in
    batch)."""
    from array import array as _array

    from .datapipe import _bucket_expr, _norm2, lsh_planes

    planes = lsh_planes(dim, n_planes)
    src = stream.df.select(
        F.col(id_col).alias("__id"),
        to_col(ts_col).cast("timestamp").alias("__ts"),
        F.col(vec_col).alias("__v"),
        _norm2(F.col(vec_col)).alias("__nrm"),
        _bucket_expr(F.col(vec_col), planes).alias("__bkt"),
    ).withColumn("__g", F.pmod(F.hash("__bkt"), F.lit(state_groups)))

    def parse(rec):
        v = _array("d", (float(x) for x in rec["__v"]))
        return int(rec["__bkt"]), (v, float(rec["__nrm"]))

    def match(p, e):
        denom = p[1] * e[3]
        if denom == 0.0:
            return False
        # ascending-dim left fold — the batch _dot's association, so
        # verdicts agree bit-for-bit
        dot = 0.0
        for x, y in zip(p[0], e[2]):
            dot += x * y
        return round(dot / denom, 6) >= threshold

    return _bucket_state_dedup(
        stream, "embedding", src, id_col, delay=delay, parse=parse,
        match=match, out_cols=(),
    )


def minhash_survivors(
    verdicts,
    id_col: str,
    *,
    ts_col: str = "ts",
    delay: str = "10 minutes",
):
    """Per-document reduction over :func:`dedup_minhash_stream` verdict
    rows: a doc survives iff NO band matched. Streaming input (the
    spooled verdict stream re-sourced) uses a watermarked append-mode
    aggregation grouped on ``(id, ts)`` — all of a doc's band verdicts
    carry its event timestamp, so the group closes when the watermark
    passes it; bounded input (a drained verdict frame) reduces with a
    plain groupBy. Output: one ``(id, ts)`` row per surviving doc."""
    df = verdicts.df
    agg = F.max("matched").alias("__m")
    if df.isStreaming:
        out = (
            df.withWatermark(ts_col, delay)
            .groupBy(id_col, ts_col)
            .agg(agg)
        )
    else:
        out = df.groupBy(id_col, ts_col).agg(agg)
    return verdicts._new(out.filter(~F.col("__m")).drop("__m"))


def interval_join_stream(
    left,
    right,
    *,
    left_ts,
    right_ts,
    lower: float,
    upper: float,
    on: Sequence[str] = (),
    watermark: str = "0 seconds",
    how: str = "inner",
):
    """STREAM-STREAM event-time band join — the unbounded form of
    ``Stream.interval_join`` (renoir ``interval_join``,
    src/operator/mod.rs:1738-1755): left ts T matches right ts Q with
    ``T - lower <= Q <= T + upper``, both sides unbounded.

    Spark-first: no bucket trick here — Structured Streaming's
    stream-stream join accepts the time-range predicate directly and uses
    it together with both watermarks to BOUND the join state (rows older
    than watermark + band width are evicted), renoir's watermark-frontier
    logic (src/operator/start/watermark_frontier.rs:7-60) expressed as
    state-store retention. Equi-keys in ``on`` keep the exchange a plain
    hash partition on the key; the band is a residual predicate.

    ``how``: inner/left/full (outer emits the null-extended row only once
    the watermark proves no match can arrive — same late-data contract as
    the reference). Works on bounded DataFrames too (parity harness).
    """
    if how not in ("inner", "left", "full"):
        raise ValueError(f"interval_join_stream supports inner/left/full, got {how!r}")
    df_l = left.df.withColumn("__lts", to_col(left_ts).cast("timestamp"))
    # resolve the right timestamp BEFORE renaming (a self-join renames
    # every right column, including the ts column itself)
    df_r = right.df.withColumn("__rts", to_col(right_ts).cast("timestamp"))
    overlap = set(df_l.columns) & set(df_r.columns) - {"__rts"}
    for c in overlap:
        df_r = df_r.withColumnRenamed(c, f"{c}_r")
    if df_l.isStreaming:
        df_l = df_l.withWatermark("__lts", watermark)
    if df_r.isStreaming:
        df_r = df_r.withWatermark("__rts", watermark)
    band = (
        F.col("__rts") >= F.col("__lts") - F.expr(f"INTERVAL {float(lower)} SECONDS")
    ) & (F.col("__rts") <= F.col("__lts") + F.expr(f"INTERVAL {float(upper)} SECONDS"))
    cond = band
    for k in on:
        rk = f"{k}_r" if f"{k}_r" in df_r.columns else k
        cond = cond & (df_l[k] == df_r[rk])
    join_type = {"inner": "inner", "left": "leftOuter", "full": "fullOuter"}[how]
    return left._new(df_l.join(df_r, cond, join_type).drop("__lts", "__rts"))


def keyed_map_with_state(
    stream,
    keys: Sequence[str],
    fn,
    *,
    state_schema: str,
    out_schema: str,
    output_mode: str = "append",
):
    """Custom per-key stateful operator on an UNBOUNDED stream — the
    streaming form of renoir's keyed ``rich_map`` / ``rich_map_custom``
    (src/operator/mod.rs:2740-2746, 1132-1138): user logic owns mutable
    per-key state that survives across micro-batches.

    Spark-first: ``applyInPandasWithState``. ``fn(key_tuple, pdf,
    state_tuple_or_None) -> (out_pdf, new_state_tuple)`` is called once
    per key per micro-batch with that batch's rows; the returned state
    tuple (matching ``state_schema``) is persisted in the state store —
    partitioned by the same key hash as any other exchange, so state
    scales horizontally with the key space.

    Scale: per-(key, batch) work is Arrow-batched; state volume is
    bounded by what the user keeps per key (sized like any keyed agg
    state); the state store shuffles once on the grouping key.
    """

    def _wrap(key, pdf_iter, state):
        import pandas as pd

        cur = state.get if state.exists else None
        pdfs = [p for p in pdf_iter]
        pdf = pd.concat(pdfs, ignore_index=True) if pdfs else pd.DataFrame()
        out, new_state = fn(key, pdf, cur)
        if new_state is not None:
            state.update(tuple(new_state))
        if out is not None and len(out):
            yield out

    grouped = stream.df.groupBy(*[F.col(k) for k in keys])
    return stream._new(
        grouped.applyInPandasWithState(
            _wrap, out_schema, state_schema, output_mode, "NoTimeout"
        )
    )


def heavy_hitters_stream(
    stream,
    key_col: str,
    *,
    capacity: int = 64,
    n_buckets: int = 8,
):
    """Continuous heavy hitters over an UNBOUNDED stream with BOUNDED
    state — the streaming form of ``Stream.heavy_hitters``: per-bucket
    Misra-Gries counter sets (≤ ``capacity`` each) carried across
    micro-batches via ``applyInPandasWithState``, so total state is
    ``n_buckets × capacity`` counters REGARDLESS of key cardinality
    (``windowed_top_k_stream`` keeps one count per distinct key per
    window — right when cardinality is bounded; this operator is the
    answer when it is not).

    Keys partition disjointly into ``n_buckets`` hash buckets; each
    bucket maintains the classic MG invariant, so after any prefix of
    the stream every key with true count > d_b (its bucket's cumulative
    decrement, ≤ N_b/(capacity+1)) is present, and every estimate
    satisfies ``est ≤ true ≤ est + max_err``. Per trigger each bucket
    emits its current candidates as ``(bucket, key, est, n_bucket,
    max_err)`` — the final emission per bucket is the stream-so-far
    summary (pick rows at max ``n_bucket``); a bucket whose counters
    all decremented away emits one NULL-key sentinel so every trigger
    still reports ``(n_bucket, max_err)``. NULL input keys are ignored.

    Scale: one exchange on the bucket hash; per-batch work is a
    value_counts merge into a capacity-bounded dict; the state store
    carries two capacity-length arrays per bucket.
    """
    df = stream.df
    # pmod, not abs(...) % n: abs(Long.MIN_VALUE) overflows under ANSI
    # mode (a 2^-64 tail risk per key, but it would fail the query
    # permanently on replay)
    bucketed = df.filter(F.col(key_col).isNotNull()).select(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets))
        .cast("int").alias("__b"),
        F.col(key_col).cast("string").alias("__k"),
    )
    state_schema = "ks array<string>, cs array<double>, n long, d double"
    out_schema = (
        "bucket int, key string, est double, n_bucket long, max_err double"
    )

    def _upd(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            ks, cs, n, d = state.get
            counts = dict(zip(ks, cs))
        else:
            counts, n, d = {}, 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            for k2, c2 in pdf["__k"].value_counts().items():
                counts[k2] = counts.get(k2, 0.0) + float(c2)
            if len(counts) > capacity:
                dec = sorted(counts.values(), reverse=True)[capacity]
                counts = {k3: v - dec for k3, v in counts.items() if v > dec}
                d += dec
        state.update((list(counts), list(counts.values()), n, d))
        # a batched decrement can empty the counter set entirely (all
        # residuals tied) — still emit a NULL-key sentinel so every
        # trigger reports the bucket's (n_bucket, max_err) and the
        # "final emission per bucket" contract holds
        ks_out = list(counts) or [None]
        es_out = list(counts.values()) or [0.0]
        yield pd.DataFrame({
            "bucket": key[0],
            "key": ks_out,
            "est": es_out,
            "n_bucket": n,
            "max_err": d,
        })

    grouped = bucketed.groupBy("__b")
    return stream._new(
        grouped.applyInPandasWithState(
            _upd, out_schema, state_schema, "update", "NoTimeout"
        )
    )


def windowed_top_k_stream(
    stream,
    ts,
    key_col: str,
    *,
    size: float,
    slide: Optional[float] = None,
    k: int = 3,
    watermark: Optional[str] = None,
):
    """Per-window top-k by frequency on bounded OR unbounded input — the
    streaming form of the reference's rolling_top_words example
    (examples/rolling_top_words.rs; batch restatement is suite q55).

    Chained stateful shape like NEXMark hot-items: (window, key) counts,
    then a per-window aggregation that keeps the k most frequent keys by
    sorting the (small) per-window count set INSIDE an aggregate —
    ``slice(sort_array(collect_list(...)))`` — so the second level stays
    an aggregation (streaming-legal), not a rank window function. State
    for level two is one (n, key) pair per distinct key per window —
    bounded by key cardinality, evicted by the watermark. Emits
    ``(win_s, rank, key, n)`` rows, rank 1-based, ties broken by key
    ascending (same contract as q55)."""
    df = stream.df.withColumn("__ets", to_col(ts).cast("timestamp"))
    if watermark is not None and df.isStreaming:
        df = df.withWatermark("__ets", watermark)
    win = F.window("__ets", _dur(size), _dur(slide or size))
    counts = df.groupBy(win.alias("__win"), F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n")
    )
    # sort_array on struct(-n, key) orders by count desc then key asc
    top = counts.groupBy("__win").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("n")).alias("negn"), F.col(key_col))
                )
            ),
            1,
            k,
        ).alias("__top")
    )
    exploded = top.select(
        F.unix_seconds(F.col("__win.start")).alias("win_s"),
        F.posexplode("__top").alias("__i", "__t"),
    )
    return stream._new(
        exploded.select(
            "win_s",
            (F.col("__i") + 1).alias("rank"),
            F.col(f"__t.{key_col}").alias(key_col),
            (-F.col("__t.negn")).alias("n"),
        )
    )


def _key_schema(stream, keys) -> str:
    """DDL field list (``name type, …``) of the ``keys`` columns, in the
    stream's schema order — the key prefix of a keyed fold's output
    schema."""
    ks = set(keys)
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in stream.df.schema.fields
        if f.name in ks
    )


def last_k_window_stream(
    stream,
    keys: Sequence[str],
    order,
    value_col: str,
    k: int,
):
    """Streaming LastKWindow — the unbounded form of the batch
    :class:`~renoir_spark.window.LastKWindow`
    (src/operator/window/descr/last_k.rs:90-105): per key, EVERY arriving
    element emits the aggregate over the trailing ≤k values, with the
    window rolling across micro-batch boundaries.

    Built on :func:`keyed_map_with_state`: the per-key state is (emit
    counter, last k-1 values) — O(k) per key, hash-partitioned. Rows are
    processed in ``order`` within each micro-batch; cross-batch order is
    arrival order (renoir's single-replica-per-key contract). Emits
    ``(key..., seq, n, sum_v)``."""
    import pandas as pd

    order_cols = [order] if isinstance(order, str) else list(order)

    def _fold(key, pdf, cur):
        seq, buf = (cur[0], list(cur[1])) if cur is not None else (0, [])
        rows = []
        if len(pdf):
            pdf = pdf.sort_values(order_cols)
            for v in pdf[value_col]:
                buf.append(float(v))
                buf = buf[-k:]
                rows.append(key + (seq, len(buf), sum(buf)))
                seq += 1
        out = pd.DataFrame(
            rows, columns=[*keys, "seq", "n", "sum_v"]
        ) if rows else None
        return out, (seq, buf)

    return keyed_map_with_state(
        stream,
        keys,
        _fold,
        state_schema="seq long, buf array<double>",
        out_schema=(
            f"{_key_schema(stream, keys)}, seq long, n long, sum_v double"
        ),
    )


def transaction_window_stream(
    stream,
    keys: Sequence[str],
    order,
    logic,
    *,
    agg,
    out_extra_schema: str,
    ts_col: Optional[str] = None,
    watermark: Optional[str] = None,
):
    """STREAMING TransactionWindow — the unbounded form of the batch
    :class:`~renoir_spark.window.TransactionWindow`, porting renoir's
    full contract (src/operator/window/descr/transaction.rs:52-122):

    * one active window per key, implicitly opened by the first element;
    * ``logic(row, user_state) -> 'continue' | 'commit' | 'discard' |
      ('commit_after', close_epoch_us)`` is called per element (the
      element is included in the window before the action applies);
    * ``commit`` emits ``agg``'s result for the buffered window rows
      (the committing element included — transaction.rs:104-105);
    * ``discard`` drops the accumulator without output (:106-108);
    * ``commit_after(t)`` registers the window to close once a WATERMARK
      past ``t`` arrives — overwritable by a later ``commit_after``,
      cancellable by ``discard`` (:109-111, CommitAfter at :99-122).

    Spark-first: ``applyInPandasWithState`` with ``EventTimeTimeout`` —
    per-key window state (buffered rows + user state, JSON in the state
    store) survives micro-batches; ``commit_after`` maps to
    ``state.setTimeoutTimestamp(t)``, so the close fires on watermark
    advancement even when no further row for that key ever arrives
    (exactly the reference's ``StreamElement::Watermark`` arm). Rows are
    processed in ``order`` within each micro-batch; cross-batch order is
    arrival order (renoir's single-replica-per-key contract).

    ``agg(rows: list[dict]) -> tuple`` must match ``out_extra_schema``.
    Buffered values are JSON-roundtripped between batches (timestamps
    stored as epoch-µs ints). State per key is ONE window's rows —
    bounded by window length, hash-partitioned like any keyed agg.
    """
    import json as _json

    import pandas as pd

    order_cols = [order] if isinstance(order, str) else list(order)
    df = stream.df
    if ts_col is not None and watermark is not None and df.isStreaming:
        df = df.withColumn("__wts", to_col(ts_col).cast("timestamp"))
        df = df.withWatermark("__wts", watermark)

    out_schema = (
        f"{_key_schema(stream, keys)}, window_id long, {out_extra_schema}"
    )

    def _jsonable(v):
        if isinstance(v, pd.Timestamp):
            return int(v.value // 1000)  # epoch µs
        if hasattr(v, "item"):
            return v.item()
        return v

    def _fn(key, pdf_iter, state):
        st = (
            _json.loads(state.get[0])
            if state.exists
            else {"wid": 0, "buf": [], "ustate": {}, "close": None}
        )
        out_rows = []

        def _commit():
            out_rows.append(key + (st["wid"],) + tuple(agg(st["buf"])))
            st["wid"] += 1
            st["buf"], st["ustate"], st["close"] = [], {}, None

        if state.hasTimedOut:
            # watermark passed the registered close — CommitAfter fires
            if st["close"] is not None and st["buf"]:
                _commit()
        else:
            pdfs = [p for p in pdf_iter]
            pdf = pd.concat(pdfs, ignore_index=True) if pdfs else None
            if pdf is not None and len(pdf):
                pdf = pdf.sort_values(order_cols)
                for rec in pdf.to_dict("records"):
                    row = {k: _jsonable(v) for k, v in rec.items()}
                    action = logic(row, st["ustate"])
                    st["buf"].append(row)
                    if action == "commit":
                        _commit()
                    elif action == "discard":
                        st["wid"] += 1
                        st["buf"], st["ustate"], st["close"] = [], {}, None
                    elif isinstance(action, tuple) and action[0] == "commit_after":
                        st["close"] = int(action[1])  # epoch µs, overwritable

        if st["close"] is not None and st["buf"]:
            # if the frontier is ALREADY past the registered close,
            # commit now (the reference would commit on the next
            # watermark element — same observable output)
            if st["close"] // 1000 + 1 <= state.getCurrentWatermarkMs():
                _commit()
        state.update((_json.dumps(st),))  # update BEFORE setting timeout
        if st["close"] is not None:
            # fire when the event-time watermark passes close (ms)
            state.setTimeoutTimestamp(st["close"] // 1000 + 1)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_schema_cols)

    out_schema_cols = [*keys, "window_id"] + [
        c.strip().split()[0] for c in out_extra_schema.split(",")
    ]

    grouped = df.groupBy(*[F.col(k) for k in keys])
    return stream._new(
        grouped.applyInPandasWithState(
            _fn, out_schema, "s string", "append",
            "EventTimeTimeout" if (ts_col and watermark) else "NoTimeout",
        )
    )


def count_window_fold_stream(
    stream,
    keys: Sequence[str],
    value_col: str,
    size: int,
):
    """EXACT tumbling count windows on an unbounded stream — renoir
    ``CountWindow`` semantics (src/operator/window/descr/count.rs:
    112-124) that Spark has no native streaming equivalent for. Built on
    :func:`keyed_map_with_state`: the per-key state is (next window id,
    buffered tail values); every ``size`` buffered values emit one
    ``(key, window_id, n, sum_v)`` row, in arrival order, across
    micro-batch boundaries. Incomplete trailing windows stay in state
    (exactly the reference's exact-window contract)."""

    def _fold(key, pdf, cur):
        import pandas as pd

        wid, buf = (cur[0], list(cur[1])) if cur is not None else (0, [])
        buf.extend(float(v) for v in pdf[value_col])
        rows = []
        while len(buf) >= size:
            window, buf = buf[:size], buf[size:]
            rows.append(key + (wid, size, sum(window)))
            wid += 1
        out = pd.DataFrame(
            rows, columns=[*keys, "window_id", "n", "sum_v"]
        ) if rows else None
        return out, (wid, buf)

    return keyed_map_with_state(
        stream,
        keys,
        _fold,
        state_schema="wid long, buf array<double>",
        out_schema=(
            f"{_key_schema(stream, keys)}, window_id long, n long, sum_v double"
        ),
    )
