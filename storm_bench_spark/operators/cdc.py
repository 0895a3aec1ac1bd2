"""Change-data-capture application: MERGE-style snapshot maintenance.

A training-data corpus is not static — documents get re-crawled,
re-licensed (deleted), or corrected. ``apply_changes`` maintains a
snapshot from a base table plus a changelog without any MERGE DDL:
latest-change-wins per key, deletes drop, untouched base rows survive.

Spark-first shape: the changelog collapses to one row per key via the
partial-aggregable ``max_by`` (``latest_by`` — map-side combine, one
shuffle of one row per key per partition), then ONE left-anti join
removes superseded/deleted base rows and the surviving upserts union
in. No window functions over the full changelog, no row_number
shuffle of every change — at 100 TB the changelog reduction is the
whole cost, and it is a single combine-friendly aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from storm_bench_spark.operators.windows import latest_by

DELETE_OP = "delete"


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order_key: Column,
    payload_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """New snapshot from ``base`` + ``changes``.

    ``changes`` carries the key columns, an ``op_col`` (``'upsert'`` or
    ``'delete'``), ``payload_cols`` (the replacement values — ignored
    for deletes) and an ``order_key`` expression that totally orders
    changes per key — ``latest_by``'s contract: a SCALAR key, UNIQUE per
    change within a key (ties would make the winner undefined). Pack a
    lexicographic pair with ``windows.packed_order(version, change_id)``,
    which orders at any bigint range; never with
    ``version*1e6 + change_id``, which silently inverts once the minor
    key outgrows the multiplier, nor with ``F.struct``, which forces
    SortAggregate (string payloads such as a name still do; see
    ``latest_by``).

    Output schema = keys + payload_cols. Base rows must share it.
    """
    latest = latest_by(
        changes, key_cols=keys, order_key=order_key,
        payload_cols=[*payload_cols, op_col],
    )
    keep_base = base.join(latest.select(*keys), list(keys), "left_anti")
    upserts = latest.where(F.col(op_col) != DELETE_OP).select(*keys, *payload_cols)
    return keep_base.select(*keys, *payload_cols).unionByName(upserts)


def scd2_intervals(
    changes: DataFrame,
    keys: Sequence[str],
    sec_col: str,
    tie_col: str,
    payload_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a changelog: one
    validity interval per upsert.

    Every change (upsert OR delete) closes the previous version, so
    ``valid_to`` is simply ``lead(sec)`` over the per-key change order
    — deletes terminate the preceding interval by existing, then emit
    no row themselves. The open (current) version has ``valid_to``
    NULL and ``is_current`` true.

    Where :func:`apply_changes` keeps only the latest state (one
    ``max_by`` reduction), SCD2 needs every change's successor, which
    is irreducibly a per-key ordered pass: ONE window shuffle on the
    key, no joins, no full-history replication. ``(sec_col, tie_col)``
    must totally order changes within a key (the same pair
    ``apply_changes`` takes packed as its order_key) and must be NON-NULL:
    Spark windows sort NULLS FIRST where DuckDB's default is NULLS
    LAST, so a NULL change time would produce engine-dependent
    interval chains (the same cross-engine hazard ``asof_join``
    filters out — here the changelog contract forbids it instead,
    because silently dropping a change would corrupt history).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.col(sec_col), F.col(tie_col))
    closed = changes.withColumn("valid_to", F.lead(sec_col).over(w))
    return closed.where(F.col(op_col) != DELETE_OP).select(
        *keys,
        *payload_cols,
        F.col(sec_col).alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )
