"""Custom keyed-state operators.

``running_count`` is WordCount.Count's actual semantics
(WordCount.java:74-100): an unwindowed HashMap of cumulative counts,
updated per input and emitted as it grows — state that never expires.
It runs as a Java ``flatMapGroupsWithState`` kernel
(``storm_bench_spark/jvm/RunningCount.java``) inside the engine's own
stateful operator, so no batch leaves the JVM. The funnel machine, the
KMV sketch and the bounded top-n below remain the
``applyInPandasWithState`` examples of arbitrary keyed state
(flightMap-style upserts — RollingFlightDist.java:154,216-218):
Arrow-batched, partitioned by key, state store local to each task.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from storm_bench_spark.jvm import kernels


def running_count(keyed: DataFrame, key_col: str) -> DataFrame:
    """Cumulative count per key, emitted once per micro-batch.

    ``keyed`` must be a streaming DataFrame; emissions are per-batch
    (the documented per-tuple → per-trigger semantic mapping,
    SURVEY.md §4.3.1), so the cumulative count is monotone per key and
    the final value per key equals the batch groupBy count. Output is
    ``(key string, cnt bigint)`` in append mode: the key column is cast
    to string, and a null key counts as a group of its own.
    """
    spark = keyed.sparkSession
    renamed = keyed.select(F.col(key_col).cast("string").alias("key"))
    return DataFrame(kernels(spark).RunningCount.apply(renamed._jdf), spark)


# --- sequential-pattern state machine: funnel stage tracking -------------

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("v", LongType()),
        StructField("c", LongType()),
        StructField("p", LongType()),
    ]
)
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("v", LongType()),
        StructField("c", LongType()),
        StructField("p", LongType()),
        # high-water mark of processed (sec, event_id): the machine's
        # cross-batch ordering precondition, enforced, not assumed
        StructField("max_sec", LongType()),
        StructField("max_eid", LongType()),
    ]
)


def _update_funnel(key, pdfs, state):
    """Advance the per-user view→click→purchase machine.

    Greedy single pass over the batch's events in (sec, event_id)
    order: first view, then first click at-or-after it, then first
    purchase at-or-after that click — the greedy matches are the
    minima the batch funnel computes, so final state == batch answer.
    Cross-batch correctness needs chronologically ordered batches
    (the same contract as streaming/cdc_stream.py); within a batch the
    explicit sort handles arbitrary arrival order. The precondition is
    ENFORCED: state carries the high-water (sec, event_id) mark, and a
    batch containing any earlier event RAISES instead of silently
    diverging from the batch oracle (an out-of-order view after a
    click would never be matched — fail loudly, not wrongly).
    """
    import pandas as pd

    if state.exists:
        v, c, p, max_sec, max_eid = state.get
    else:
        v, c, p, max_sec, max_eid = None, None, None, None, None
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["sec", "event_id"])
    secs = rows["sec"].tolist()
    eids = rows["event_id"].tolist()
    if max_sec is not None and secs and (secs[0], eids[0]) < (max_sec, max_eid):
        raise RuntimeError(
            f"funnel_state: out-of-order micro-batch for key {key}: event "
            f"({secs[0]}, {eids[0]}) arrived after high-water mark "
            f"({max_sec}, {max_eid}). The stage machine requires "
            f"chronologically ordered batches (single-file source or an "
            f"event-time-ordered feed); results would silently diverge "
            f"from the batch funnel otherwise."
        )
    for sec, et in zip(secs, rows["event_type"].tolist()):
        if et == "view" and v is None:
            v = sec
        elif et == "click" and v is not None and c is None and sec >= v:
            c = sec
        elif et == "purchase" and c is not None and p is None and sec >= c:
            p = sec
    if secs:
        max_sec, max_eid = secs[-1], eids[-1]
    state.update((v, c, p, max_sec, max_eid))
    yield pd.DataFrame(
        {"user_id": [key[0]], "v": [v], "c": [c], "p": [p]}, dtype="object"
    )


def funnel_state(events: DataFrame) -> DataFrame:
    """Per-user funnel stage timestamps as arbitrary keyed state.

    ``events`` must be a streaming DataFrame with (user_id, sec,
    event_id, event_type). Emits the current (v, c, p) stage
    timestamps per user per batch — a sequential-pattern matcher that
    no built-in windowed aggregation expresses (stage k's predicate
    depends on stage k−1's MATCH TIME, not on a fixed window).

    CONTRACT (since round 14): only users with ≥1 funnel event
    (view/click/purchase) emit rows. Users whose events are all other
    types never reach the state machine and produce NO output row —
    do not count users from this function's output. (Before round 14
    such users emitted an all-NULL (v, c, p) row; every consumer
    filters stages with isNotNull, so results were identical, but the
    per-user-row shape is now part of the contract.)
    """
    # The machine only reacts to the three funnel stages; dropping the
    # other event types BEFORE the keyed Python state stage is
    # result-identical (the per-event loop ignores them, and a user
    # with no funnel events contributes all-NULL stages that every
    # consumer already filters) and keeps 40% of the fixture's rows
    # out of the Arrow boundary, the per-key sort, and the high-water
    # bookkeeping. The filter also reaches the streaming scan as a
    # pushed predicate.
    sel = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "sec", "event_id", "event_type")
    return sel.groupBy("user_id").applyInPandasWithState(
        _update_funnel,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bottom-k (KMV) sketch state ------------------------------------------

from pyspark.sql.types import ArrayType  # noqa: E402

KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_kept", LongType()),
        StructField("kth_hash", LongType()),
    ]
)
KMV_STATE_SCHEMA = StructType([StructField("hs", ArrayType(LongType()))])


def _make_kmv_update(k: int):
    def _update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        held = list(state.get[0]) if state.exists else []
        seen = set(held)
        for p in pdfs:
            # a null h (e.g. hash64 of a null user_id) must never reach
            # int(); a batch whose rows for this key are all-null would
            # otherwise raise inside the state fn and kill the stream
            seen.update(int(v) for v in p["h"].dropna())
        merged = sorted(seen)[:k]
        state.update((merged,))
        if merged:
            yield pd.DataFrame(
                {"key": [key[0]], "n_kept": [len(merged)], "kth_hash": [merged[-1]]}
            )

    return _update


def bottomk_state(keyed: DataFrame, key_col: str, hash_col: str, k: int) -> DataFrame:
    """KMV sketch as arbitrary keyed state: per key, the K smallest
    distinct hash values seen so far (applyInPandasWithState, state =
    ONE bounded array row per key — the sketch's defining property;
    contrast ``streaming_dedup``'s one-row-per-distinct-key state).

    Bottom-K accumulation is a set-min fold — associative, commutative,
    idempotent — so the final state is independent of micro-batch
    boundaries and arrival order. Per-batch emissions are monotone in
    ``n_kept`` (the kept set only grows), but ``kth_hash`` is only
    non-increasing ONCE the sketch is full (n_kept == k); while
    unfilled, each new distinct hash raises it. The final sketch per
    key must therefore be read as the LATEST emission —
    ``max(struct(n_kept, -kth_hash))`` — never as field-wise
    ``(max(n_kept), min(kth_hash))``. Batches whose rows for a key are
    all-null update nothing and emit nothing.
    """
    renamed = keyed.select(F.col(key_col).alias("key"), F.col(hash_col).alias("h"))
    return renamed.groupBy("key").applyInPandasWithState(
        _make_kmv_update(k),
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bounded top-n state (streaming A-ES weighted sample) -----------------
# State per shard = the n best (k, doc_id, wt) triples seen so far —
# a set-max fold (associative, commutative, idempotent), so the final
# state is independent of micro-batch boundaries and arrival order,
# exactly like the bottom-K sketch above but at the other end of the
# order. ``seq`` stamps each emission so the final snapshot is read as
# the LATEST emission per shard (emissions are not row-wise monotone:
# a better key can evict an earlier top-n member).

TOPN_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("doc_id", LongType()),
        StructField("wt", LongType()),
        StructField("k", LongType()),
    ]
)
TOPN_STATE_SCHEMA = StructType(
    [
        StructField("ks", ArrayType(LongType())),
        StructField("ids", ArrayType(LongType())),
        StructField("wts", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def _make_topn_update(n: int):
    def _update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            ks, ids, wts, seq = state.get
            held = list(zip(ks, ids, wts))
        else:
            held, seq = [], 0
        for p in pdfs:
            held.extend(
                (int(k), int(d), int(w))
                for k, d, w in zip(p["k"], p["doc_id"], p["wt"])
            )
        # top-n by (k desc, doc_id asc) — the batch query's exact order
        held.sort(key=lambda t: (-t[0], t[1]))
        held = held[:n]
        seq += 1
        state.update(
            ([t[0] for t in held], [t[1] for t in held], [t[2] for t in held], seq)
        )
        if held:
            yield pd.DataFrame(
                {
                    "shard": [key[0]] * len(held),
                    "seq": [seq] * len(held),
                    "doc_id": [t[1] for t in held],
                    "wt": [t[2] for t in held],
                    "k": [t[0] for t in held],
                }
            )

    return _update


def topn_state(keyed: DataFrame, n: int) -> DataFrame:
    """Bounded top-n keyed state: per ``shard``, the n largest
    (k, doc_id, wt) rows seen so far (applyInPandasWithState; state =
    ONE bounded row of three n-length arrays per shard). The sharding
    is the scale lever: P shards × n rows of state at ANY input
    volume, P-way parallel updates, and a P·n-row final merge — the
    streaming spelling of TakeOrderedAndProject."""
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_topn_update(n),
        outputStructType=TOPN_OUTPUT_SCHEMA,
        stateStructType=TOPN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
