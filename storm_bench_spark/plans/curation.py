"""Corpus-curation queries: near-dup cluster resolution and the
composed keep-canonical pipeline.

Pair lists (minhash_lsh) are only half of dedup — a 100 TB curation
run must group pairs into clusters and keep ONE canonical document per
cluster. ``operators/graph.connected_components`` is the iterative
min-label propagation that does the grouping (per-iteration
key-partitioned joins, localCheckpoint lineage truncation); the DuckDB
oracle replays it as a recursive-CTE reachability closure, so even the
iterative step is value-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_bench_spark.functions.text import WS_RUN_PATTERN, word_split
from storm_bench_spark.operators.cdc import apply_changes
from storm_bench_spark.operators.graph import (
    cc_oracle_sql,
    connected_components,
    pagerank,
    pagerank_oracle_sql,
)
from storm_bench_spark.operators.windows import packed_order
from storm_bench_spark.plans.dedup_queries import MINHASH_PAIRS_SQL, minhash_lsh
from storm_bench_spark.plans.registry import register
from storm_bench_spark.sources import derived as D
from storm_bench_spark.sources.tables import load_table

MIN_TOKENS = 10

_EDGES_SQL = f"SELECT a, b FROM ({MINHASH_PAIRS_SQL})"


@register("neardup_clusters", oracle=cc_oracle_sql(_EDGES_SQL))
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, comp) for every doc in a near-dup pair: minhash_lsh
    pairs grouped into connected components, labeled by the smallest
    member (= the canonical keeper). The iterative Spark loop and the
    oracle's recursive reachability closure provably agree — min-label
    fixpoints are unique."""
    pairs = minhash_lsh(spark, sf_dir).select("a", "b")
    # no orderBy: the driver's comparator is order-insensitive, and a
    # global sort would charge a range-partition exchange for nothing
    return connected_components(pairs)


@register("pagerank_neardup", oracle=pagerank_oracle_sql(_EDGES_SQL))
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, rank_scaled) — 3-round integer fixed-point PageRank over
    the minhash_lsh near-dup pair graph: the centrality complement of
    ``neardup_clusters`` (which doc is the HUB of a duplication
    cluster, not just its smallest id — the canonical-pick policy
    real curation pipelines use when ids are arbitrary).

    The iterative step is a bounded plan unroll of keyed join + keyed
    sum (operators/graph.py:pagerank); the oracle replays the same
    integer rounds as chained CTEs, so the cross-engine gate checks
    every round's arithmetic, not just row counts."""
    pairs = minhash_lsh(spark, sf_dir).select("a", "b")
    return pagerank(pairs)


CURATE_ORACLE = f"""
WITH keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
drops AS (
  SELECT node FROM ({cc_oracle_sql(_EDGES_SQL)}) WHERE node <> comp
)
SELECT d.doc_id,
       CAST(len(list_filter(string_split_regex(d.text, '{WS_RUN_PATTERN}'), w -> w <> '')) AS BIGINT) AS n_tokens
FROM documents d
JOIN keepers k ON d.doc_id = k.doc_id
WHERE d.doc_id NOT IN (SELECT node FROM drops)
  AND len(list_filter(string_split_regex(d.text, '{WS_RUN_PATTERN}'), w -> w <> '')) >= {MIN_TOKENS}
"""


@register("corpus_curate", oracle=CURATE_ORACLE)
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline, end to end:

    1. exact dedup — keep min doc_id per md5(text) (semi join);
    2. near-dup dedup — drop every cluster member except the
       component label (anti join against the CC output);
    3. length floor — ≥ {MIN_TOKENS} whitespace tokens.

    Each stage is a key-partitioned join or scan filter — the whole
    pipeline is shuffle-bounded by the dedup sketch itself, which is
    the shape a 100 TB curation run needs."""
    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    drops = (
        connected_components(minhash_lsh(spark, sf_dir).select("a", "b"))
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        docs.join(keepers, "doc_id", "left_semi")
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", F.size(word_split("text")).cast("bigint").alias("n_tokens"))
        .where(F.col("n_tokens") >= MIN_TOKENS)
    )


# --- CDC / MERGE: snapshot maintenance -----------------------------------

# The event-derived changelog (signup/click → upsert with a new name,
# purchase → delete), shared by cdc_apply and the SCD2 history query
# (plans/analytics_ext.py) in both renderings.
CDC_CH_SQL = """
  SELECT user_id AS c_custkey, sec, event_id,
         CASE WHEN event_type = 'purchase' THEN 'delete' ELSE 'upsert' END AS op,
         concat('u', CAST(event_id AS VARCHAR)) AS c_name
  FROM es WHERE event_type IN ('signup', 'click', 'purchase')
"""


def cdc_changelog(es: DataFrame) -> DataFrame:
    return es.where(F.col("event_type").isin("signup", "click", "purchase")).select(
        F.col("user_id").alias("c_custkey"),
        "sec",
        "event_id",
        F.when(F.col("event_type") == "purchase", "delete").otherwise("upsert").alias("op"),
        F.concat(F.lit("u"), F.col("event_id").cast("string")).alias("c_name"),
    )


CDC_ORACLE = f"""
WITH es AS ({D.EVENTS_SEC_SQL}),
ch AS ({CDC_CH_SQL}),
latest AS (
  SELECT c_custkey, op, c_name FROM ch
  QUALIFY row_number() OVER (PARTITION BY c_custkey
                             ORDER BY sec DESC, event_id DESC) = 1
)
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
UNION ALL
SELECT c_custkey, c_name FROM latest WHERE op <> 'delete'
"""


@register("cdc_apply", oracle=CDC_ORACLE)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style snapshot maintenance over the customer table with an
    event-derived changelog (signup/click → upsert with a new name,
    purchase → delete): latest change per key wins via the
    partial-aggregable max_by reduction, superseded base rows leave
    through one left-anti join, upserts union in
    (operators/cdc.apply_changes). The order key is
    ``packed_order(sec, event_id)`` — the lexicographic pair as one
    scalar DECIMAL(38,0), total and safe at any id range (the earlier
    ``sec·10^6 + event_id`` packing silently inverts the order once
    event_id reaches 10^6, i.e. at sf ≥ 10), as ``latest_by``'s
    scalar-key contract asks. The oracle replays the same latest-wins
    resolution in SQL."""
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ch = cdc_changelog(D.events_sec(spark, sf_dir))
    order_key = packed_order("sec", "event_id")
    return apply_changes(
        base, ch, keys=["c_custkey"], order_key=order_key, payload_cols=["c_name"]
    )


# --- cross-source duplication overlap -------------------------------------

_SOURCE_OVERLAP_ORACLE = f"""
WITH pairs AS ({MINHASH_PAIRS_SQL}),
j AS (
  SELECT least(da.source, db.source) AS src_a,
         greatest(da.source, db.source) AS src_b
  FROM pairs p
  JOIN documents da ON p.a = da.doc_id
  JOIN documents db ON p.b = db.doc_id
)
SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS ndup_pairs
FROM j GROUP BY src_a, src_b
"""


@register("source_overlap", oracle=_SOURCE_OVERLAP_ORACLE)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (minhash_lsh)
    attributed to their (source, source) cell — the data-governance
    view of dedup ("how much of crawl B is already in crawl A", which
    feeds mixture weights and crawl-dedup ordering). The pair key is
    canonicalized with least/greatest so each unordered source pair is
    ONE cell; the diagonal (src_a = src_b) is within-source duplication.

    Shape at scale: the verified pair list is sketch-bounded (LSH
    bucket collisions only); attributing it costs two keyed equi-joins
    against the doc→source projection — shuffled on doc id, never
    broadcast (the doc table is corpus-sized) — then a
    |sources|²-bounded groupBy. Exact clones never span sources in
    this fixture (measured), which is WHY the overlap rides the
    near-dup pairs rather than md5 equality.
    """
    pairs = minhash_lsh(spark, sf_dir).select("a", "b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs.a == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb").withColumnRenamed("doc_id", "b_id"),
            F.col("b") == F.col("b_id"),
        )
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
    )
    return j.groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("ndup_pairs"))


# --- quality-policy survivor selection ------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH cc AS ({cc_oracle_sql(_EDGES_SQL)}),
m AS (
  SELECT comp, node,
         CAST(len(list_filter(string_split_regex(d.text, '{WS_RUN_PATTERN}'), w -> w <> '')) AS BIGINT) AS nt
  FROM cc JOIN documents d ON cc.node = d.doc_id
)
SELECT comp, node AS keeper, nt AS keeper_tokens, n_members FROM (
  SELECT comp, node, nt,
         row_number() OVER (PARTITION BY comp ORDER BY nt DESC, node) AS rn,
         CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS n_members
  FROM m
) WHERE rn = 1
"""


@register("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship with a QUALITY policy: per near-dup cluster, keep
    the member with the most tokens (ties to the smaller doc_id) —
    the third canonical-pick policy alongside min-id
    (``neardup_clusters``/``corpus_curate``) and centrality
    (``pagerank_neardup``). Real curation keeps the best copy, not an
    arbitrary one; token count stands in for the quality score
    (any per-doc scalar slots into the same argmax).

    Shape at scale: clusters join their members' token counts on doc
    id (keyed equi-join), then ONE partially-aggregable ``max_by``
    argmax per cluster — no per-cluster window over raw members, so
    the shuffle carries one candidate row per cluster per map
    partition, and a pathological million-member cluster costs the
    same as a pair.
    """
    pairs = minhash_lsh(spark, sf_dir).select("a", "b")
    cc = connected_components(pairs)
    toks = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"),
        F.size(word_split("text")).cast("bigint").alias("nt"),
    )
    m = cc.join(toks, "node")
    # argmax key: (nt, -node) so more tokens win and ties prefer the
    # smaller id — spelled as a MIN over the DECIMAL-packed (-nt, node)
    # (round 15): min lexicographic (-nt, node) = max nt, tie-break
    # smaller node — the same winner — and the scalar decimal key keeps
    # the aggregation on the HashAggregate path (the ≤r14 struct key
    # (nt, -node) forced SortAggregate: struct agg buffers are not
    # hash-aggregable, so both exchange sides paid a full sort). node
    # is a non-negative doc id, the valid low part for packed_order;
    # min_by is associative exactly like max_by, hence still map-side
    # combinable.
    key = packed_order(-F.col("nt"), F.col("node"))
    return m.groupBy("comp").agg(
        F.min_by("node", key).alias("keeper"),
        F.min_by("nt", key).alias("keeper_tokens"),
        F.count(F.lit(1)).alias("n_members"),
    )
