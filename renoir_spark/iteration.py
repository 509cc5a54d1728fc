"""Iteration — driver-side loops over DataFrames (SURVEY.md §2.9).

Reference parity: renoir's iteration subsystem
(src/operator/iteration/{iterate.rs,replay.rs,iterate_delta.rs,mod.rs}) wires
a feedback edge into the dataflow graph with a leader block coordinating a
shared read-only state. Spark has no feedback edges, so the idiomatic mapping
is a DRIVER loop over DataFrames — which is exactly what renoir's
IterationLeader does too (collect state updates, decide, broadcast), just
expressed in the host language.

Scale discipline (the part renoir gets for free from its runtime) is one
rule for every round's output (the ``iterate``/``replay`` round output, the
``delta_iterate`` delta and merged state):

- it becomes ``localCheckpoint(eager=False)``, so the next round's body
  always sees an O(1) ``LogicalRDD`` leaf — Catalyst never re-analyses the
  loop's history (without the cut the plan doubles per round);
- the round's ONE driver action (the delta count, or the output count)
  is the barrier that materializes it, mirroring renoir's leader barrier
  (src/operator/iteration/leader.rs:26-100) — no extra job;
- once the barrier has materialized a frame's successor, the frame is
  freed with ``util.free_local_checkpoint``: at most two generations are
  alive, and the returned frame is the last materialized checkpoint;
- when ``body``, ``merge`` or ``state_update`` raises, every generation
  the loop holds is freed before the exception propagates.

Trade-off: a freed generation has no lineage, so a lost checkpoint block
of a live generation fails the loop (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) in
whatever round it is read, rather than being recomputed from the input.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import free_local_checkpoint


def _free_all_but(held: list, *keep: DataFrame) -> None:
    """Free every loop-made frame in ``held`` except ``keep``; call only
    after the barrier has materialized the kept frames, so nothing reads
    the freed ones again."""
    for d in held:
        if not any(d is k for k in keep):
            free_local_checkpoint(d)
    held[:] = [d for d in held if any(d is k for k in keep)]


@contextmanager
def _generations():
    """The list of frames a loop made and still holds; if the loop
    raises, all of them are freed before the exception propagates."""
    held: list = []
    try:
        yield held
    except BaseException:
        _free_all_but(held)
        raise


def loop_partitions(spark, n_edges: int) -> int:
    """Shuffle width for a graph loop over ``n_edges`` edges: one
    partition per 100k edges, capped at the session width — a small
    graph iterates in one or two partitions instead of paying rounds ×
    session-width near-empty tasks, a large one scales back up."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return max(1, min(width, n_edges // 100_000 + 1))


@contextmanager
def _loop_confs(spark, adaptive: Optional[bool], shuffle_partitions: Optional[int]):
    """Temporarily pin loop-relevant session confs for the iteration body.

    ``adaptive``: AQE re-optimizes EVERY shuffle stage; for an iteration
    of many small rounds that planning latency dominates (measured 4-6×
    on the CC query at sf0.1). Default for loops is therefore ``False``;
    pass ``True`` when each round shuffles enough data for skew/coalesce
    re-planning to pay for itself (the 100 TB regime), or ``None`` to
    leave the session setting untouched.

    ``shuffle_partitions``: per-round shuffles should be sized to the
    STATE volume, not the session default — an iteration over a 15k-row
    state with 32 (or 200) shuffle partitions pays round-count ×
    partition-count task-scheduling latency for near-empty partitions.
    Size it as state_bytes / target_partition_size; ``None`` leaves the
    session setting untouched."""
    pins = {}
    if adaptive is not None:
        pins["spark.sql.adaptive.enabled"] = str(adaptive).lower()
    if shuffle_partitions is not None:
        pins["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if not pins:
        yield
        return
    defaults = {"spark.sql.adaptive.enabled": "true",
                "spark.sql.shuffle.partitions": "200"}
    old = {k: spark.conf.get(k, defaults[k]) for k in pins}
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


class IterationStateHandle:
    """Read-only view of the loop state inside the body — renoir
    ``IterationStateHandle`` (src/operator/iteration/mod.rs:88-118). The
    body must only read (renoir enforces this at runtime; here the value
    is a plain Python object handed to driver code, so the contract is
    documented, not policed)."""

    def __init__(self, value) -> None:
        self._value = value

    def get(self):
        return self._value


def iterate(
    stream,
    num_iterations: int,
    initial_state,
    body: Callable,
    state_update: Callable[[object, DataFrame], object],
    loop_condition: Optional[Callable[[object], bool]] = None,
    *,
    adaptive: Optional[bool] = False,
    shuffle_partitions: Optional[int] = None,
):
    """Feedback loop — renoir ``iterate``
    (src/operator/iteration/iterate.rs:306-439): the body's output is fed
    back as the next iteration's input; a shared state is folded from the
    body output each round and consulted by ``loop_condition``.

    Spark-first restatement of renoir's (local_fold, global_fold) pair:
    ``state_update(state, df) -> new_state`` receives the iteration's
    output DataFrame and may run any aggregation on it — Catalyst plans
    the local/global two phases renoir makes the user write by hand.

    Returns ``(final_state, last_iteration_stream)`` — the same two
    results as the reference (state stream + elements of the last
    iteration).
    """
    df = stream.df
    state = initial_state
    with _loop_confs(df.sparkSession, adaptive, shuffle_partitions), \
            _generations() as held:
        for _ in range(num_iterations):
            out = body(stream._new(df), IterationStateHandle(state)) \
                .df.localCheckpoint(eager=False)
            held.append(out)
            state = state_update(state, out)
            out.count()  # round barrier: out is materialized, df is dead
            _free_all_but(held, out)
            df = out
            if loop_condition is not None and not loop_condition(state):
                break
    return state, stream._new(df)


def replay(
    stream,
    num_iterations: int,
    initial_state,
    body: Callable,
    state_update: Callable[[object, DataFrame], object],
    loop_condition: Optional[Callable[[object], bool]] = None,
    *,
    adaptive: Optional[bool] = False,
    shuffle_partitions: Optional[int] = None,
):
    """Replay loop — renoir ``replay``
    (src/operator/iteration/replay.rs:256-300): the SAME input is re-fed
    to the body every iteration; only the state evolves. Returns the final
    state (the reference returns a one-element state stream).

    The input is cached once (renoir replays from the source block's
    buffer — ``persist`` is the analog; side-input caching is
    src/stream.rs:213-228)."""
    cached_in = stream.df.persist()
    replay_stream = stream._new(cached_in)
    state = initial_state
    try:
        with _loop_confs(cached_in.sparkSession, adaptive,
                         shuffle_partitions), _generations() as held:
            for _ in range(num_iterations):
                out = body(replay_stream, IterationStateHandle(state)) \
                    .df.localCheckpoint(eager=False)
                held.append(out)
                state = state_update(state, out)
                out.count()  # round barrier — see iterate()
                _free_all_but(held, out)
                if loop_condition is not None and not loop_condition(state):
                    break
            # replay returns only the driver-side state
            _free_all_but(held)
    finally:
        cached_in.unpersist()
    return state


def delta_iterate(
    keyed,
    num_iterations: int,
    body: Callable,
    merge: Optional[Callable] = None,
    *,
    adaptive: Optional[bool] = False,
    shuffle_partitions: Optional[int] = None,
):
    """Keyed incremental iteration — renoir ``delta_iterate``
    (src/operator/iteration/iterate_delta.rs:104-140): per-key state,
    the body turns the current state into a stream of per-key DELTAS,
    deltas are merged into the state, and the loop ends when an iteration
    produces no deltas (renoir's ``condition``/``something_changed``
    machinery) or after ``num_iterations``.

    Spark-first (Pregel shape, cf. GraphX): the per-key state is a
    DataFrame keyed by ``keyed.keys``;

    - ``body(state: KeyedStream, iteration: int) -> Stream`` emits delta
      rows with the same key columns (only keys that CHANGE — emptiness
      is the termination test, exactly the reference's contract);
    - ``merge(state: KeyedStream, delta: KeyedStream) -> Stream`` folds
      deltas into the state; the default keeps the state row unless a
      delta for its key exists (delta overrides — renoir's
      ``process_delta`` for simple replacement semantics).

    Each round costs one shuffle for the body's aggregation plus one
    key-partitioned merge join; both sides hash-partition on the same key
    so Spark reuses the exchange (EnsureRequirements). Its one action is
    the delta count, which materializes the delta and the state the body
    read; a loop that stops on ``num_iterations`` rather than on an empty
    delta counts its last merged state once.
    """
    from .keyed import KeyedStream

    keys = list(keyed.keys)
    if merge is None:
        def merge(state: "KeyedStream", delta: "KeyedStream"):
            value_cols = [c for c in state.df.columns if c not in keys]
            d = delta.df
            for c in value_cols:
                d = d.withColumnRenamed(c, f"__d_{c}")
            joined = state.df.join(d, keys, "left")
            out = joined.select(
                *keys,
                *[
                    F.coalesce(F.col(f"__d_{c}"), F.col(c)).alias(c)
                    for c in value_cols
                ],
            )
            return state._stream(out)

    state_df = keyed.df
    with _loop_confs(state_df.sparkSession, adaptive, shuffle_partitions), \
            _generations() as held:
        for it in range(num_iterations):
            delta_df = body(KeyedStream(keyed.ctx, state_df, keys), it) \
                .df.localCheckpoint(eager=False)
            held.append(delta_df)
            # leader barrier (leader.rs:26-100): materializes the delta and
            # the state it was computed from, so the previous generation
            # (the state and delta that merged into state_df) is dead
            n_delta = delta_df.count()
            _free_all_but(held, state_df, delta_df)
            if n_delta == 0:
                _free_all_but(held, state_df)
                break
            state_df = merge(
                KeyedStream(keyed.ctx, state_df, keys),
                KeyedStream(keyed.ctx, delta_df, keys),
            ).df.localCheckpoint(eager=False)
            held.append(state_df)
        else:
            if num_iterations > 0:  # stopped with deltas still flowing
                state_df.count()
                _free_all_but(held, state_df)
    return KeyedStream(keyed.ctx, state_df, keys)
