"""Windowed-aggregation operators (the SlidingWindow/Slots replacement).

The reference maintains sliding windows by hand (slot ring + monoid
merge + tick emission — SlidingWindow.java:32-187). Here a sliding
window is one declarative ``groupBy(window(ts, W, S), keys)``: Catalyst
plans partial/final aggregation automatically and, in streaming mode,
the state store holds the per-window partials with watermark eviction
(the analog of wipeZeros — SlidingWindow.java:148-158).

Window starts are emitted as ``ws`` — BIGINT epoch seconds — so results
are engine-neutral and oracle-comparable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sliding_agg(
    df: DataFrame,
    window_sec: int,
    slide_sec: int,
    keys: Sequence[str],
    aggs: Sequence[Column],
    sec_col: str = "sec",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation over an epoch-seconds column.

    Enforces the reference's validity rule (window length a multiple of
    the slide — SlidingWindow.java:43-46, RollingBolt.java:45-47).

    ``watermark`` (e.g. ``"30 seconds"``) enables streaming state
    eviction + append-mode emission: windows finalize once the watermark
    passes their end, and later-arriving rows are dropped — the
    engine's (strictly stronger) replacement for the reference's
    wall-clock slot wipe (SlidingWindow.java:62-64,148-158), which has
    no late-data semantics at all.
    """
    if window_sec % slide_sec != 0:
        raise ValueError("window_sec must be a multiple of slide_sec")
    ts = F.timestamp_seconds(F.col(sec_col))
    if watermark is not None:
        df = df.withColumn("_event_ts", ts).withWatermark("_event_ts", watermark)
        ts = F.col("_event_ts")
    w = F.window(ts, f"{window_sec} seconds", f"{slide_sec} seconds")
    g = df.groupBy(w.alias("w"), *[F.col(k) for k in keys]).agg(*aggs)
    out_cols = [c for c in g.columns if c != "w"]
    return g.select(F.col("w.start").cast("long").alias("ws"), *out_cols)


def sliding_agg_twophase(
    df: DataFrame,
    window_sec: int,
    slide_sec: int,
    keys: Sequence[str],
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    sec_col: str = "sec",
    pre_partition_by_keys: bool = False,
) -> DataFrame:
    """Sliding window via tumbling pre-aggregation + bucket combine.

    ``window()`` assigns every input row to W/S windows before the
    shuffle; here rows first collapse into their S-second tumbling
    bucket (one shuffle on (bucket, keys) with full map-side combine),
    and only the *aggregated* bucket rows explode into the W/S windows
    that contain them for the final combine. At 100 TB that's the
    difference between replicating every input row W/S× and replicating
    one row per (bucket, key) — the input-side data volume drops by the
    compression ratio of the first aggregation.

    Requires a decomposable aggregate: ``partial_aggs`` runs per bucket,
    ``final_aggs`` merges buckets (count→sum, sum→sum, max→max,
    HLL sketch→union). Same epoch-aligned window set as ``sliding_agg``
    (ws = bucket − k·S for k ∈ [0, W/S)) — results are identical, so
    the same oracle verifies both formulations.
    """
    if window_sec % slide_sec != 0:
        raise ValueError("window_sec must be a multiple of slide_sec")
    n = window_sec // slide_sec
    if pre_partition_by_keys and keys:
        # One-shuffle variant for LOW-compression inputs (round 9):
        # HashPartitioning(keys) satisfies the clustering requirement
        # of BOTH downstream groupBys — (bucket, keys) and (ws, keys)
        # each contain `keys`, and equal-key rows land in one partition
        # — so a single raw-row exchange replaces the two aggregation
        # exchanges (the second of which carries the W/S-expanded
        # bucket rows). The trade is map-side combine: the raw exchange
        # moves every input row uncombined, so this wins exactly when
        # phase-1 compression is ~1 (measured on rolling_geo_count at
        # sf0.1: 94k distinct (bucket, zone) of 100k rows, 0.70 s →
        # 0.25 s) and LOSES when the tumbling pre-agg collapses rows
        # heavily (wordcount-class inputs, where the default plan's
        # first exchange ships only the combined bucket rows). Caller
        # picks per input shape; results are identical either way.
        df = df.repartition(*[F.col(k) for k in keys])
    bucket = (F.col(sec_col) - (F.col(sec_col) % slide_sec)).cast("long")
    pre = df.groupBy(bucket.alias("_bucket"), *[F.col(k) for k in keys]).agg(
        *partial_aggs
    )
    steps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_k")
    expanded = pre.select("*", steps).select(
        (F.col("_bucket") - F.col("_k") * slide_sec).alias("ws"),
        *[c for c in pre.columns if c != "_bucket"],
    )
    return expanded.groupBy("ws", *[F.col(k) for k in keys]).agg(*final_aggs)


def sliding_distinct_count(
    df: DataFrame,
    window_sec: int,
    slide_sec: int,
    keys: Sequence[str],
    distinct_col: str,
    out_alias: str,
    sec_col: str = "sec",
) -> DataFrame:
    """Exact per-window COUNT DISTINCT without replicating raw rows.

    ``window()`` + ``countDistinct`` fans every input row out into its
    W/S containing windows *before* the shuffle, so the exchange carries
    W/S× the input. Distinctness is idempotent, so the fan-out can
    instead consume the per-slide-bucket distinct set: phase 1 collapses
    to one row per (bucket, keys, value) — map-side combine absorbs
    duplicate hits inside a partition — and only those collapsed rows
    explode into windows for the final exact ``count(DISTINCT)``. Same
    epoch-aligned window set as ``sliding_agg`` (ws = bucket − k·S), so
    the same oracle verifies both spellings. The sketch twin
    (HLL, see unique_visitor_approx) drops the second distinct shuffle
    too — this variant keeps exactness for oracle parity.
    """
    if window_sec % slide_sec != 0:
        raise ValueError("window_sec must be a multiple of slide_sec")
    n = window_sec // slide_sec
    bucket = (F.col(sec_col) - (F.col(sec_col) % slide_sec)).cast("long")
    pre = (
        df.select(bucket.alias("_bucket"), *[F.col(k) for k in keys], F.col(distinct_col))
        .distinct()
    )
    steps = F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("_k")
    expanded = pre.select("*", steps).select(
        (F.col("_bucket") - F.col("_k") * slide_sec).alias("ws"),
        *keys,
        distinct_col,
    )
    return expanded.groupBy("ws", *[F.col(k) for k in keys]).agg(
        F.countDistinct(distinct_col).alias(out_alias)
    )


# 10^19 — the packing radix for two-bigint lexicographic order keys.
# Any non-negative bigint is a valid low part (2^63 - 1 < 10^19).
_PACK_RADIX = "10000000000000000000"


def packed_order(hi: Column | str, lo: Column | str) -> Column:
    """Order-preserving DECIMAL(38,0) encoding of the lexicographic
    bigint pair (hi, lo): ``hi * 10^19 + lo``.

    WHY (round 15): an argmax spelled ``max(struct(...))`` or
    ``max_by(_, struct(...))`` forces SortAggregate — struct (and
    string/binary) aggregation buffers are not mutable UnsafeRow
    fields, so HashAggregate refuses the plan and BOTH sides of the
    aggregation pay a full per-partition sort of their input (measured
    on this repo: every latest-per-key family row carried 2 extra
    Sorts). DECIMAL(38,0) IS a mutable buffer type, so ``max(packed)``
    + per-column ``max_by(col, packed)`` hash-aggregate.

    Correctness bounds, checked statically rather than at runtime:
    ``lo`` must lie in [0, 10^19) — any non-negative BIGINT qualifies
    since 2^63 − 1 ≈ 9.22e18 < 10^19 — while ``hi`` may be any bigint
    (the encoding stays monotone for negative hi as long as lo is in
    range). |hi|·10^19 + lo < 9.23e37 < 10^38 − 1, so DECIMAL(38,0)
    never overflows and no precision is ever lost (scale 0). This is
    NOT the ``hi·10^6 + lo`` bigint packing the repo rejects
    (cdc_apply docstring) — that one inverts once lo reaches the
    radix; here the radix provably exceeds every possible bigint lo.
    """
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    lo_c = F.col(lo) if isinstance(lo, str) else lo
    return hi_c.cast("decimal(19,0)") * F.expr(
        f"CAST({_PACK_RADIX} AS DECIMAL(20,0))"
    ) + lo_c.cast("decimal(19,0)")


def latest_by(df: DataFrame, key_cols: Sequence[str], order_key: Column, payload_cols: Sequence[str]) -> DataFrame:
    """Newest row per key: per-column ``max_by(col, order_key)``.

    This is the LatLongReducer / flightMap upsert pattern
    (LatLongReducer.java:27-41, RollingFlightDist.java:213-219) as a
    partial-aggregable operator — map-side combine keeps the shuffle at
    one row per key per partition, which is what makes "latest position
    per aircraft" viable at 100 TB (a window-function row_number would
    shuffle every row).

    ``order_key`` must be a SCALAR orderable column that is UNIQUE per
    row within each key group (callers pack lexicographic pairs with
    :func:`packed_order`): uniqueness is what lets the row be fetched
    as independent per-column ``max_by`` calls — with a unique key the
    argmax row is unique, so every column comes from the same row —
    and scalarness is what keeps the aggregation on the HashAggregate
    path (struct keys/payloads force SortAggregate; see packed_order).
    Payload columns must be fixed-size primitive types for the same
    reason (the current callers pass bigint/double payloads).

    Round ≤14 spelling was ``max_by(struct(payload), struct_key)`` —
    same rows, but SortAggregate on both sides of the exchange.
    """
    g = df.groupBy(*[F.col(k) for k in key_cols]).agg(
        *[F.max_by(F.col(c), order_key).alias(c) for c in payload_cols]
    )
    return g.select(*key_cols, *payload_cols)
