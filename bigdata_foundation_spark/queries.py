"""Query registry: every implemented operator as a (Spark fn, oracle
SQL) pair consumed by ``__spark_entry__``.

Conventions (driver contract, see repo __spark_entry__ docstring):
* every computed column is aliased IDENTICALLY in the Spark plan and
  the DuckDB oracle (the driver hash-compares by sorted column name);
* floating aggregates are rounded in BOTH engines (money → 2 dp,
  ratios/scores → 6 dp) so cross-engine summation order can't flip the
  hash; thresholds filter on unrounded values in both engines;
* counts are cast to bigint (DuckDB count returns BIGINT);
* queries whose semantics SQL can't express (iterative graph search,
  LSH approximations, hash-dependent fakes) carry no oracle — the
  driver records a weaker rows-only check for them (they're covered by
  pytest oracles instead, see tests/).

Graph queries run on the reference's own Shenzhen CSV (the workload
the engine replicates); relational/dedup/similarity/text queries run
on the driver's TPC-H-ish tables at the given sf_dir.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_foundation_spark.operators import dedup as D
from bigdata_foundation_spark.operators import multimodal as M
from bigdata_foundation_spark.operators import relational as R
from bigdata_foundation_spark.operators import similarity as S
from bigdata_foundation_spark.operators import text as TX
from bigdata_foundation_spark.operators import web as W
from bigdata_foundation_spark.graph_goldens import GOLDEN_SQL
from bigdata_foundation_spark.pipeline_goldens import PIPELINE_GOLDEN_SQL

SHENZHEN_CSV = "/root/reference/Shenzhen_Edgelist_1.csv"


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The events parquet may store TIMESTAMP(NANOS) (older
        # generations — Spark has no ns type, so read ns-as-long and
        # convert) or TIMESTAMP(MICROS) (reads as a timestamp
        # directly); normalize_event_ts dispatches on the read type.
        from bigdata_foundation_spark.streaming.events import normalize_event_ts

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        return normalize_event_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table, widened to the session's parallelism: the
    small-SF file is a single input split, which would pin the per-row
    text expressions to one core (no-op at production scale)."""
    return D.spread(_t(spark, sf_dir, "documents"), "doc_id")


_REGISTRY: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        # duplicate names must fail at import, not silently shadow an
        # existing gate entry (a shadowed entry keeps its GATE_ORDER
        # slot but runs the WRONG query)
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        _REGISTRY[name] = QuerySpec(fn, oracle, doc)
        return fn

    return deco


# The driver gates the FIRST 50 registry keys each round. r16 order:
# (a) the entries most affected by this round's (optimization-only)
# code changes: snapshot_change_feed (read_version_changes rewritten
# as the single-pass tagged-union diff), streaming_change_feed /
# streaming_source_tail (streaming/source.py grew the empty-names
# _rows guard; the stream-mode CDF mirrors the rewritten batch
# semantics), stupid_backoff_lm / bigram_perplexity (train/corpus
# tokenization now cached once per query), graph_node_similarity
# (nbrs/deg subtrees cached); then
# (b) the OLDEST-GATED rotation: the FULL r11 block (44 entries;
# after this round no entry's latest gate is older than r12;
# staleness computed from the union of CORRECTNESS_r01–r15.json).
# Totals: 6 changed + 44 r11 = 50.
# The whole registry is additionally value-checked locally each round
# via tools/check_oracles.py — see ORACLES_r16.md. Entries not listed
# keep registration order after these.
GATE_ORDER: list[str] = [
    # (a) the entries this round's code changes touch most
    "snapshot_change_feed",  # r16: single-pass tagged-union CDF diff
    "streaming_change_feed",  # r16: stream-mode CDF twin; _rows guard
    "streaming_source_tail",  # r16: rides streaming/source.py change
    "stupid_backoff_lm",  # r16: train tokenization cached once
    "bigram_perplexity",  # r16: corpus tokenization cached once
    "graph_node_similarity",  # r16: nbrs/deg subtrees cached
    # (b) oldest-gated rotation — the FULL r11 block
    "bloom_dedup_probe",  # last gated r11
    "bpe_fertility",  # last gated r11
    "bpe_tokenize",  # last gated r11
    "corpus_drift",  # last gated r11
    "dataset_diff",  # last gated r11
    "dedup_minhash_blocked",  # last gated r11
    "dedup_minhash_lsh",  # last gated r11
    "exact_substring_spans",  # last gated r11
    "fixed_width_parse",  # last gated r11
    "funnel_stages",  # last gated r11
    "graph_assortativity",  # last gated r11
    "graph_astar",  # last gated r11
    "graph_betweenness",  # last gated r11
    "graph_closeness",  # last gated r11
    "graph_clustering_coeff",  # last gated r11
    "graph_components",  # last gated r11
    "graph_dijkstra",  # last gated r11
    "graph_eccentricity",  # last gated r11
    "graph_eigenvector",  # last gated r11
    "graph_harmonic",  # last gated r11
    "graph_hits",  # last gated r11
    "graph_hyperball",  # last gated r11
    "graph_ingest_limit",  # last gated r11
    "graph_kcore",  # last gated r11
    "graph_nodes",  # last gated r11
    "graph_random_walks",  # last gated r11
    "graph_writeback",  # last gated r11
    "html_extract_text",  # last gated r11
    "line_dedup_gate",  # last gated r11
    "multimodal_audio_decode",  # last gated r11
    "multimodal_decode",  # last gated r11
    "multimodal_gif_decode",  # last gated r11
    "multimodal_gif_frames",  # last gated r11
    "multimodal_ingest",  # last gated r11
    "multimodal_video_frames",  # last gated r11
    "ngram_counts_top",  # last gated r11
    "normalize_documents",  # last gated r11
    "streaming_corpus_dedup",  # last gated r11
    "text_quality",  # last gated r11
    "text_redact_pii",  # last gated r11
    "text_repetition",  # last gated r11
    "text_stats",  # last gated r11
    "tfidf_top_terms",  # last gated r11
    "unigram_perplexity",  # last gated r11
]


def registry() -> dict[str, QuerySpec]:
    ordered: dict[str, QuerySpec] = {}
    for name in GATE_ORDER:
        spec = _REGISTRY.get(name)
        if spec is None:
            # A renamed/removed query must not take down every registry
            # consumer; the gate simply falls back to registration order
            # for the missing slot (test_gate_order_names pins the list
            # against silent drift).
            continue
        ordered[name] = spec
    for name, spec in _REGISTRY.items():
        ordered.setdefault(name, spec)
    return ordered


# ===========================================================================
# Relational surface (TPC-H-ish; SURVEY.md §2.3 + BASELINE.json north-star)
# ===========================================================================

@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                              AS avg_price,
           ROUND(AVG(l_discount), 6)                                   AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan-side filter pushdown + partial aggregation",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


@q(
    "q3_segment_topk",
    """
    SELECT o.o_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    "3-way join + top-k; customer side broadcast",
)
def q3_segment_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    agg = joined.groupBy("o_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return R.topk(agg, [F.desc("revenue"), F.asc("o_orderkey")], 10)


@q(
    "q5_region_revenue",
    """
    SELECT n.n_name AS n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey   = c.c_custkey
      JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
      JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    "TPC-H Q5 shape: 6-way join with broadcast dims + local-supplier predicate",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name")
    )
    cust = c.join(dims, c.c_nationkey == F.col("n_nationkey")).select("c_custkey", "c_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")))
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@q(
    "point_lookup_customer",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42",
    "R1 point lookup — pushed predicate",
)
def point_lookup_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.point_lookup(_t(spark, sf_dir, "customer"), "c_custkey", 42).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@q(
    "orders_topk",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "R10 multi-key top-k → TakeOrderedAndProject",
)
def orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return R.topk(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)


@q(
    "window_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    """,
    "window function with frame: per-group top-3",
)
def window_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
    )


@q(
    "distinct_agg_priority",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    "distinct aggregation (two-phase under the hood)",
)
def distinct_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )


@q(
    "events_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "tumbling time-window aggregation over the event stream table",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@q(
    "events_kv_extract",
    """
    SELECT event_type,
           ROUND(AVG(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE)), 6) AS avg_k
    FROM events GROUP BY event_type
    """,
    "R13-style scalar extraction from a JSON-ish string column",
)
def events_kv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1).cast("double")
    return ev.groupBy("event_type").agg(F.round(F.avg(k), 6).alias("avg_k"))


@q(
    "events_json_parse",
    """
    SELECT event_type,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(COUNT(k) AS BIGINT) AS n_k
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
          FROM events) t
    GROUP BY event_type
    """,
    "native JSON parsing (from_json → typed struct), not regex scraping",
)
def events_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("_j")
    ).select("event_type", F.col("_j.k").alias("k"))
    return parsed.groupBy("event_type").agg(
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.count("k").cast("bigint").alias("n_k"),
    )


@q(
    "events_xml_parse",
    """
    SELECT event_type,
           CAST(MIN(user_id) AS BIGINT) AS min_u,
           CAST(MAX(user_id) AS BIGINT) AS max_u,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    "native XML parsing (r11 — from_xml -> typed struct, the Spark 4 "
    "sibling of events_json_parse): an XML payload synthesized "
    "scan-side from the base columns round-trips through the REAL XML "
    "parser back to typed fields; the oracle re-derives the aggregate "
    "from the base columns directly, so any parse defect (dropped "
    "rows, mistyped fields, entity mishandling) breaks the match",
)
def events_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Escape the embedded column before concat (r12 advice fix: an
    # event_type containing '&' or '<' would otherwise produce
    # malformed XML that from_xml silently nulls). '&' FIRST so the
    # other escapes aren't double-escaped; from_xml decodes the
    # entities back, so the round-trip stays the identity.
    et = F.col("event_type")
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        et = F.replace(et, F.lit(ch), F.lit(ent))
    xml = F.concat(
        F.lit("<ev><t>"),
        et,
        F.lit("</t><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u></ev>"),
    )
    parsed = ev.select(F.from_xml(xml, "t STRING, u BIGINT").alias("_x")).select(
        F.col("_x.t").alias("event_type"), F.col("_x.u").alias("u")
    )
    return parsed.groupBy("event_type").agg(
        F.min("u").cast("bigint").alias("min_u"),
        F.max("u").cast("bigint").alias("max_u"),
        F.count("*").cast("bigint").alias("n"),
    )


@q(
    "array_ops_customer",
    """
    SELECT o_custkey,
           CAST(len(lst) AS BIGINT) AS n_orders,
           ROUND(CAST(coalesce(list_aggregate(lst[2:4], 'sum'), 0.0) AS DOUBLE), 2) AS mid_sum
    FROM (
      SELECT o_custkey, list(ROUND(o_totalprice, 2) ORDER BY o_totalprice, o_orderkey) AS lst
      FROM orders GROUP BY o_custkey) t
    """,
    "R6–R9: ordered collect, slice [1..4), reduce-sum (scalars out)",
)
def array_ops_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    lst = F.transform(
        F.sort_array(F.collect_list(F.struct("o_totalprice", "o_orderkey"))),
        lambda s: F.round(s["o_totalprice"], 2),
    )
    return (
        o.groupBy("o_custkey")
        .agg(lst.alias("lst"))
        .select(
            "o_custkey",
            F.size("lst").cast("bigint").alias("n_orders"),
            F.round(R.array_reduce_sum(R.array_slice(F.col("lst"), 1, 3)), 2).alias("mid_sum"),
        )
    )


@q(
    "setop_repeat_customers",
    """
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    "set operator: INTERSECT",
)
def setop_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@q(
    "rollup_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "grouping sets / rollup",
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n",
            "total",
        )
    )


@q(
    "anti_join_quiet_customers",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    "anti join (NOT EXISTS) with a pushed inner predicate — customers with no "
    "URGENT order (every customer has SOME order in the fixture, so the "
    "unfiltered variant pinned only an empty result; r4 verdict gate-quality "
    "fix: 203 rows at sf0.01)",
)
def anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@q(
    "semi_join_ordered_parts",
    """
    SELECT p_partkey, p_brand FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
    """,
    "semi join (EXISTS) with pushed inner predicate",
)
def semi_join_ordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_brand")


@q(
    "case_bucket_orders",
    """
    SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
                WHEN o_totalprice < 10000 THEN 'medium'
                ELSE 'large' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(o_totalprice), 6) AS avg_price
    FROM orders GROUP BY 1
    """,
    "CASE WHEN bucketing + agg",
)
def case_bucket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 10000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )


@q(
    "orders_by_year",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    "date-part extraction + agg",
)
def orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@q(
    "value_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
    "exact linear-interpolation percentiles (Spark percentile == DuckDB quantile_cont)",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


@q(
    "string_funcs_customer",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           concat(c_mktsegment, ':', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           replace(c_name, '#', '-') AS name_dashed
    FROM customer WHERE c_custkey <= 100
    """,
    "scalar string library: upper/substring/length/concat/replace",
)
def string_funcs_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")).alias("seg_nation"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("name_dashed"),
    )


@q(
    "union_all_keys",
    """
    SELECT o_custkey AS key, 'order' AS src FROM orders WHERE o_totalprice > 400000
    UNION ALL
    SELECT c_custkey AS key, 'customer' AS src FROM customer WHERE c_acctbal < 0
    """,
    "UNION ALL of heterogeneous sources",
)
def union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("key"), F.lit("order").alias("src")
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src")
    )
    return o.unionAll(c)


@q(
    "left_join_order_counts",
    """
    SELECT c.c_custkey AS c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           ROUND(coalesce(SUM(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    "outer join with null-safe aggregation (customers with zero orders kept)",
)
def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@q(
    "cross_lookup_pair",
    """
    SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
           ROUND(a.c_acctbal - b.c_acctbal, 2) AS bal_diff
    FROM (SELECT * FROM customer WHERE c_custkey = 7) a,
         (SELECT * FROM customer WHERE c_custkey = 11) b
    """,
    "R2: cartesian of two point lookups (neo4j-code.txt:2)",
)
def cross_lookup_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = R.point_lookup(c, "c_custkey", 7).select(
        F.col("c_custkey").alias("custkey_a"), F.col("c_acctbal").alias("_ba")
    )
    b = R.point_lookup(c, "c_custkey", 11).select(
        F.col("c_custkey").alias("custkey_b"), F.col("c_acctbal").alias("_bb")
    )
    return a.crossJoin(b).select(
        "custkey_a", "custkey_b", F.round(F.col("_ba") - F.col("_bb"), 2).alias("bal_diff")
    )


@q(
    "asof_join_attribution",
    """
    SELECT e.event_id AS event_id,
           e.user_id AS user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           e.event_type AS event_type,
           COALESCE(ROUND(p.value, 2), -1.0) AS last_purchase_value,
           COALESCE(p.event_id, -1) AS last_purchase_id
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts > p.ts
    """,
    "as-of join (backward, strict): each event ↔ the user's most recent prior purchase",
)
def asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    out = R.asof_join(
        ev,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"last_purchase_value": "value", "last_purchase_id": "event_id"},
        strict=True,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        F.coalesce(F.round("last_purchase_value", 2), F.lit(-1.0)).alias("last_purchase_value"),
        F.coalesce("last_purchase_id", F.lit(-1)).alias("last_purchase_id"),
    )


@q(
    "range_join_attribution",
    """
    SELECT p.event_id AS purchase_id,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_follow,
           ROUND(COALESCE(SUM(e.value), 0.0), 2) AS follow_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts + INTERVAL 1 MINUTE
     AND e.ts <  p.ts + INTERVAL 60 MINUTE
    GROUP BY p.event_id
    """,
    "interval join: activity within (t+1min, t+60min) after each purchase, per purchase",
)
def range_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"), F.col("ts").alias("_pts")
    )
    joined = R.range_join(
        p,
        ev.select("user_id", F.col("ts").alias("_ets"), F.col("event_id").alias("_eid"), "value"),
        on=["user_id"],
        right_ts="_ets",
        lower=F.col("_pts") + F.expr("INTERVAL 1 MINUTE"),
        upper=F.col("_pts") + F.expr("INTERVAL 60 MINUTE"),
        how="left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count("_eid").cast("bigint").alias("n_follow"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("follow_value"),
    )


@q(
    "hash_sample_orders",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE ('0x' || substr(md5('sample' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
          < 429496729
    """,
    "deterministic md5-bucket Bernoulli sample (10%) — reproducible across engines/runs",
)
def hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.hash_sample(o, "o_orderkey", 0.1).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@q(
    "window_funcs_orders",
    """
    SELECT o_orderkey,
           o_custkey,
           COALESCE(ROUND(lag(o_totalprice, 1) OVER w, 2), -1.0) AS prev_price,
           COALESCE(lead(o_orderkey, 1) OVER w, -1)              AS next_key,
           ntile(4) OVER w                         AS quartile,
           ROUND(percent_rank() OVER w, 6)         AS pr,
           ROUND(cume_dist() OVER w, 6)            AS cd,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov3_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "window-function breadth: lag/lead/ntile/percent_rank/cume_dist + rows-frame moving sum "
    "(integer cents — windowed float sums associate differently across engines)",
)
def window_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.round(F.lag("o_totalprice", 1).over(w), 2), F.lit(-1.0)).alias("prev_price"),
        F.coalesce(F.lead("o_orderkey", 1).over(w), F.lit(-1)).alias("next_key"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).over(wf).cast("bigint").alias("mov3_cents"),
    )


@q(
    "pivot_priority_by_year",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'        THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
           CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH'          THEN 1 ELSE 0 END) AS BIGINT) AS high,
           CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM'        THEN 1 ELSE 0 END) AS BIGINT) AS medium,
           CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS notspec,
           CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'           THEN 1 ELSE 0 END) AS BIGINT) AS low
    FROM orders GROUP BY 1
    """,
    "pivot: order counts by priority, one column per priority, row per year",
)
def pivot_priority_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    pivoted = (
        o.withColumn("yr", F.year("o_orderdate").cast("bigint"))
        .groupBy("yr")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "notspec",
        "5-LOW": "low",
    }
    return pivoted.select(
        "yr",
        *[F.coalesce(F.col(f"`{src}`"), F.lit(0)).cast("bigint").alias(dst) for src, dst in renames.items()],
    )


@q(
    "date_functions_orders",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                    AS yr,
           CAST(quarter(o_orderdate) AS INT)                 AS qtr,
           CAST(month(o_orderdate) AS INT)                   AS mo,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           CAST(dayofweek(o_orderdate) AS INT)               AS dow,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since
    FROM orders WHERE year(o_orderdate) = 1997
    """,
    "date/time function surface: year/quarter/month/week-trunc/dow/datediff",
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.year("o_orderdate") == 1997).select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("week_start"),
        # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6.
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).cast("int").alias("days_since"),
    )


@q(
    "cube_revenue",
    """
    SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
           coalesce(o_orderpriority, 'ALL')                    AS o_orderpriority,
           CAST(GROUPING(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT)                            AS n,
           ROUND(SUM(o_totalprice), 2)                         AS revenue
    FROM orders
    GROUP BY CUBE (year(o_orderdate), o_orderpriority)
    """,
    "CUBE over (year, priority) with grouping_id disambiguation",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").withColumn("_yr", F.year("o_orderdate"))
    return (
        o.cube("_yr", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce(F.col("_yr").cast("string"), F.lit("ALL")).alias("yr"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "gid",
            "n",
            "revenue",
        )
    )


@q(
    "q4_late_orders",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late
    FROM orders o
    WHERE year(o_orderdate) = 1996
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS decorrelated to a semi-join, priority histogram",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").cast("bigint").alias("n_late"))


@q(
    "q12_priority_by_flag",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l_returnflag
    """,
    "TPC-H Q12 shape: join + conditional CASE aggregation",
)
def q12_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@q(
    "q14_promo_revenue",
    """
    WITH base AS (
      SELECT ROUND(SUM(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_revenue,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    )
    SELECT promo_revenue, total_revenue,
           ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
    FROM base
    """,
    "TPC-H Q14 shape: conditional revenue ratio over a date window (ratio from 2-dp-rounded parts)",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )
    return base.select(
        "promo_revenue",
        "total_revenue",
        F.round(100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6).alias("promo_pct"),
    )


@q(
    "q22_idle_customers",
    """
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) <= 2
    GROUP BY c_nationkey
    """,
    "TPC-H Q22 shape: scalar subquery threshold + decorrelated count subquery, grouped",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("_avg"))
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("_avg"))
    # Decorrelate the per-customer count subquery into an aggregate +
    # left join (count of missing key = 0) — Catalyst's own rewrite.
    counts = o.groupBy("o_custkey").agg(F.count("*").alias("_n_orders"))
    idle = (
        rich.join(counts, rich.c_custkey == counts.o_custkey, "left")
        .filter(F.coalesce("_n_orders", F.lit(0)) <= 2)
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@q(
    "top_docs_per_group",
    """
    SELECT lang, source, doc_id, n_chars FROM (
      SELECT lang, source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents) t
    WHERE rn <= 3
    """,
    "corpus curation: top-3 largest documents per (lang, source) cell",
)
def top_docs_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "source", "doc_id", "n_chars")
    )


# ===========================================================================
# Text analysis
# ===========================================================================

@q(
    "text_stats",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS n_tokens_bpe,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
    "token counting (whitespace + BPE-ish regex) + md5 fingerprint",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.whitespace_token_count("text").cast("bigint").alias("n_tokens_ws"),
        TX.bpe_ish_token_count("text").cast("bigint").alias("n_tokens_bpe"),
        TX.fingerprint_md5("text").alias("fingerprint"),
    )


@q(
    "corpus_profile",
    r"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens_ws,
           ROUND(AVG(LENGTH(text)), 2) AS avg_chars,
           CAST(MIN(LENGTH(text)) AS BIGINT) AS min_chars,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars,
           CAST(COUNT(*) - COUNT(DISTINCT regexp_replace(lower(text), '\s+', ' ', 'g')) AS BIGINT) AS n_exact_dups
    FROM documents GROUP BY lang, source
    """,
    "per-(lang, source) corpus data card: doc/token counts, length stats, "
    "exact-duplicate rate — one scan pass into one hash aggregate (the "
    "post-ingest audit a curation pipeline runs after every filter step)",
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return TX.corpus_profile(d).orderBy("lang", "source")


@q(
    "winnow_fingerprint_stats",
    PIPELINE_GOLDEN_SQL["winnow_fingerprint_stats"],
    "winnowing rolling-hash fingerprints per document (Schleimer 2003; "
    "pinned-golden oracle from the independent pure-Python replay)",
)
def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    fp = TX.winnow_fingerprints("text", k=20, w=8)
    return d.select(
        "doc_id",
        F.size(fp).alias("n_fp"),
        F.array_min(fp).alias("fp_min"),
        F.array_max(fp).alias("fp_max"),
    )


@q(
    "winnow_overlap_pairs",
    PIPELINE_GOLDEN_SQL["winnow_overlap_pairs"],
    "MOSS-style partial-overlap pairs via shared winnowed fingerprints "
    "(pinned-golden oracle, gen_pipeline_goldens.py)",
)
def winnow_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return TX.winnow_overlap_pairs(
        d, k=20, w=8, min_shared=2, max_doc_freq=50
    ).orderBy("id_a", "id_b")


@q(
    "text_quality",
    r"""
    WITH t AS (
      SELECT doc_id, lang, text,
             lower(text) AS lt,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
             length(text) AS n
      FROM documents
    ),
    v AS (
      SELECT doc_id, lang, n, len(toks) AS ntok,
             CAST(len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','in','is','that','for','with','was'], x))) AS DOUBLE) AS v_en,
             CAST(len(list_filter(toks, x -> list_contains(
               ['el','la','de','que','y','en','un','por','con','los'], x))) AS DOUBLE) AS v_es,
             CAST(len(list_filter(toks, x -> list_contains(
               ['le','la','de','et','les','des','un','une','du','est'], x))) AS DOUBLE) AS v_fr,
             CAST(len(list_filter(toks, x -> list_contains(
               ['der','die','und','das','von','zu','mit','den','ist','ein'], x))) AS DOUBLE) AS v_de,
             CAST( (length(text) - length(replace(text, '的', '')))
                 + (length(text) - length(replace(text, '了', '')))
                 + (length(text) - length(replace(text, '是', '')))
                 + (length(text) - length(replace(text, '在', '')))
                 + (length(text) - length(replace(text, '我', '')))
                 + (length(text) - length(replace(text, '有', '')))
                 + (length(text) - length(replace(text, '和', '')))
                 + (length(text) - length(replace(text, '就', '')))
                 + (length(text) - length(replace(text, '不', '')))
                 + (length(text) - length(replace(text, '人', ''))) AS DOUBLE) AS v_zh,
             CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio
      FROM t
    ),
    scored AS (
      SELECT lang,
             -- tie-break = Spark's array_max on (vote, lang) structs:
             -- max vote, then max language string
             CASE WHEN v_zh >= greatest(v_en, v_es, v_fr, v_de) THEN 'zh'
                  WHEN v_fr >= greatest(v_en, v_es, v_de)        THEN 'fr'
                  WHEN v_es >= greatest(v_en, v_de)              THEN 'es'
                  WHEN v_en >= v_de                              THEN 'en'
                  ELSE 'de' END AS lang_pred,
             ROUND(( least(n / 500.0, 1.0)
                   + (1.0 - least(punct_ratio * 2.0, 1.0))
                   + least(v_en / greatest(ntok, 1) * 5.0, 1.0)
                   ) / 3.0, 6) AS quality
      FROM v
    )
    SELECT lang, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           -- sum exact integer micro-units, divide once: deterministic
           -- under any summation order (plain AVG of doubles flipped
           -- the 6th decimal between engines at a .5 boundary)
           ROUND(SUM(CAST(ROUND(quality * 1e6) AS BIGINT)) / (COUNT(*) * 1e6), 6) AS avg_quality
    FROM scored GROUP BY lang, lang_pred
    """,
    "quality scoring + language-ID distribution; the full heuristic (stopword votes, "
    "punctuation/length bands, Spark tie-break) is replayed in SQL",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scored = d.select("doc_id", "lang", TX.quality_score("text").alias("quality"), TX.lang_id("text").alias("lang_pred"))
    return scored.groupBy("lang", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum(F.round(F.col("quality") * 1e6).cast("bigint")) / (F.count("*") * F.lit(1e6)), 6
        ).alias("avg_quality"),
    )


@q(
    "gopher_quality",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents WHERE text IS NOT NULL
    ),
    sig AS (
      SELECT doc_id,
             len(toks) AS n_words,
             ROUND(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                   / greatest(len(toks), 1), 6) AS mean_word_len,
             ROUND(CAST(len(regexp_extract_all(text, '[#…]|\.\.\.')) AS DOUBLE)
                   / greatest(len(toks), 1), 6) AS symbol_word_ratio,
             len(list_filter(list_distinct(toks), x -> list_contains(
               ['the','and','of','to','in','is','that','for','with','was'], x))) AS stop_hits,
             ROUND(CAST(len(list_filter(lines, ln -> regexp_matches(ln, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                   / greatest(len(lines), 1), 6) AS ellipsis_line_frac
      FROM s
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
           symbol_word_ratio, CAST(stop_hits AS INT) AS stop_hits,
           ellipsis_line_frac
    FROM sig
    WHERE n_words BETWEEN 10 AND 100000
      AND mean_word_len BETWEEN 2.0 AND 12.0
      AND symbol_word_ratio <= 0.1
      AND stop_hits >= 1
      AND ellipsis_line_frac <= 0.3
    """,
    "Gopher-style quality filter (Rae et al. 2021 rules, loosened thresholds for "
    "the synthetic corpus): one scan-side pass, signals kept for auditing",
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    kept = TX.gopher_filter(
        d,
        min_words=10,
        max_words=100_000,
        min_mean_word_len=2.0,
        max_mean_word_len=12.0,
        max_symbol_word_ratio=0.1,
        min_stop_hits=1,
        max_ellipsis_line_frac=0.3,
    )
    return kept.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        "mean_word_len",
        "symbol_word_ratio",
        F.col("stop_hits").cast("int").alias("stop_hits"),
        "ellipsis_line_frac",
    )


@q(
    "ngram_counts_top",
    r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT array_to_string(toks[i.i : i.i + 2], ' ') AS gram
      FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i) i
      WHERE len(toks) > 0
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM g GROUP BY gram
    ORDER BY n DESC, gram ASC LIMIT 100
    """,
    "corpus-wide top-100 word trigram counts (the classic MapReduce job): "
    "explode + map-side-combined groupBy + TakeOrderedAndProject",
)
def ngram_counts_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.ngram_counts(_docs(spark, sf_dir), "text", n=3, k=100)


@q(
    "pmi_collocations",
    r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    uni AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM uni),
    bi AS (
      SELECT toks[i.i] AS w1, toks[i.i + 1] AS w2
      FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) i
      WHERE len(toks) > 1
    ),
    nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM bi),
    pc AS (
      SELECT w1, w2, COUNT(*) AS n_pair FROM bi GROUP BY w1, w2
      HAVING COUNT(*) >= 5
    ),
    scored AS (
      SELECT pc.w1, pc.w2, pc.n_pair,
             ln((CAST(pc.n_pair AS DOUBLE) * nu.n * nu.n) / (nb.n * u1.c * u2.c)) AS _s
      FROM pc JOIN uc u1 ON pc.w1 = u1.w JOIN uc u2 ON pc.w2 = u2.w
      CROSS JOIN nu CROSS JOIN nb
    )
    SELECT CAST(rk AS INT) AS rank, w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           ROUND(_s, 6) AS pmi
    FROM (
      SELECT *, row_number() OVER (ORDER BY _s DESC, w1 ASC, w2 ASC) AS rk
      FROM scored
    ) WHERE rk <= 50
    """,
    "top-50 bigram collocations by pointwise mutual information (Church & "
    "Hanks 1990) with a min-count floor: adjacent lowercase-token pairs, "
    "two map-side-combined count aggs + broadcast scalar totals + "
    "TakeOrderedAndProject top-k (full SQL oracle)",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pmi_collocations(_docs(spark, sf_dir), "text", k=50, min_count=5)


@q(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT source, term, COUNT(*) AS _tf FROM toks GROUP BY source, term),
    gf AS (SELECT term, COUNT(*) AS _gf FROM tf GROUP BY term),
    ng AS (SELECT COUNT(DISTINCT source) AS n FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf._tf,
             tf._tf * ln(CAST(ng.n AS DOUBLE) / gf._gf) AS _score
      FROM tf JOIN gf USING (term) CROSS JOIN ng
    )
    SELECT source, CAST(rk AS INT) AS rank, term,
           CAST(_tf AS BIGINT) AS tf, ROUND(_score, 6) AS tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY _score DESC, term ASC) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    "top-5 terms per source by TF-IDF (group = concatenated source corpus); "
    "ranking on the unrounded score, term-asc tie-break",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.tfidf_top_terms(_docs(spark, sf_dir), "text", "source", k=5)


@q(
    "split_train_val_test",
    """
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     < 3435973836 THEN 'train'
                WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     < 3865470566 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    "deterministic 80/10/10 train-val-test split by md5 bucket — each row in "
    "exactly one split, reproducible across engines/runs/partitionings, "
    "evaluated as one scan-side CASE (no shuffle)",
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return R.hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "split"
    )


@q(
    "mixture_sample_sources",
    """
    SELECT doc_id, source
    FROM documents
    WHERE CASE source
            WHEN 'src0' THEN 4294967296
            WHEN 'src1' THEN 2147483648
            WHEN 'src2' THEN 1073741824
            WHEN 'src3' THEN 429496729
          END IS NOT NULL
      AND ('0x' || substr(md5('mixture' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          < CASE source
              WHEN 'src0' THEN 4294967296
              WHEN 'src1' THEN 2147483648
              WHEN 'src2' THEN 1073741824
              WHEN 'src3' THEN 429496729
            END
    """,
    "training-mixture downsampling: per-source deterministic keep fractions "
    "(src0 100%, src1 50%, src2 25%, src3 10%, others dropped) as one "
    "scan-side filter — the pretraining data-mixing step",
)
def mixture_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return R.mixture_sample(
        d, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}, "doc_id"
    ).select("doc_id", "source")


@q(
    "shuffle_deterministic_order",
    r"""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5('shuffle:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS BIGINT) AS shuffle_rank
    FROM documents
    """,
    "deterministic global shuffle order for training (reproducible random "
    "permutation): rank in md5 order via order-aligned hash buckets + "
    "per-bucket row_number + driver-side cumulative offsets — one keyed "
    "shuffle, no single-partition sort (plan pinned)",
)
def shuffle_deterministic_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return R.shuffle_rank(d, "doc_id").select(
        "doc_id", F.col("_shuffle_rank").alias("shuffle_rank")
    )


@q(
    "line_dedup_gate",
    r"""
    WITH pages AS (
      SELECT source AS page_id,
             'ACCEPT COOKIES TO CONTINUE' || chr(10) ||
             string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
             'COPYRIGHT FOOTER EXAMPLE' AS text
      FROM documents WHERE text IS NOT NULL
      GROUP BY source
    ),
    lines AS (
      SELECT page_id, i - 1 AS pos, parts[i] AS line
      FROM (SELECT page_id, string_split(text, chr(10)) AS parts FROM pages) p,
           LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) i
    ),
    marked AS (
      SELECT page_id, pos, line,
             COUNT(*) OVER (PARTITION BY line) AS n,
             row_number() OVER (PARTITION BY line ORDER BY page_id, pos) AS rk
      FROM lines
    ),
    rebuilt AS (
      SELECT page_id, string_agg(line, chr(10) ORDER BY pos) AS text
      FROM marked
      WHERE length(line) < 1 OR n < 2 OR rk = 1
      GROUP BY page_id
    )
    SELECT p.page_id AS page_id, coalesce(r.text, '') AS text
    FROM pages p LEFT JOIN rebuilt r ON p.page_id = r.page_id
    """,
    "C4-style corpus line dedup gate: the flat corpus has no multi-line docs, "
    "so build one page per source (docs joined by \\n, shared cookie-banner "
    "header + copyright footer injected) and strip the cross-page boilerplate "
    "down to its canonical occurrence; oracle re-derives the full keep rule "
    "(count<2 OR first-occurrence OR empty-line exemption) with windows",
)
def line_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    body = F.concat_ws(
        "\n",
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
    )
    pages = d.groupBy(F.col("source").alias("page_id")).agg(
        F.concat_ws(
            "\n", F.lit("ACCEPT COOKIES TO CONTINUE"), body, F.lit("COPYRIGHT FOOTER EXAMPLE")
        ).alias("text")
    )
    return TX.line_dedup(pages, id_col="page_id")


@q(
    "token_totals_by_source",
    r"""
    SELECT source,
           CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents GROUP BY source
    """,
    "corpus token accounting per source",
)
def token_totals_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.sum(TX.whitespace_token_count("text")).cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


@q(
    "unimax_mixture",
    r"""
    WITH g AS (
      SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS DOUBLE) AS n
      FROM documents GROUP BY lang
    ),
    caps AS (SELECT lang, n, 2.0 * n AS cap FROM g),
    tot AS (SELECT SUM(n) AS total, CAST(COUNT(*) AS DOUBLE) AS ng FROM caps),
    ord AS (
      SELECT lang, n, cap, total, ng,
             CAST(row_number() OVER (ORDER BY cap ASC, lang ASC) AS DOUBLE) AS rn,
             SUM(cap) OVER (ORDER BY cap ASC, lang ASC ROWS UNBOUNDED PRECEDING) AS cum
      FROM caps CROSS JOIN tot
    ),
    lvl AS (
      SELECT MAX((1.35 * total - (cum - cap)) / (ng - rn + 1.0)) AS t FROM ord
    )
    SELECT lang, CAST(n AS BIGINT) AS n_tokens,
           ROUND(LEAST(cap, lvl.t), 6) AS allocation,
           ROUND(CASE WHEN n > 0 THEN LEAST(cap, lvl.t) / n ELSE 0.0 END, 6) AS epochs,
           (n > 0 AND cap <= lvl.t) AS capped
    FROM ord CROSS JOIN lvl ORDER BY lang
    """,
    "UniMax mixture allocation (Chung et al. 2023): token budget spread "
    "uniformly across languages under a max-epochs repeat cap via "
    "closed-form water-filling — one token-count agg, then |groups|-row "
    "window math (full SQL oracle)",
)
def unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.unimax_mixture(
        _docs(spark, sf_dir), "text", group_col="lang", budget_frac=1.35, max_epochs=2.0
    )


@q(
    "dataset_diff",
    """
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 10
    )
    SELECT COALESCE(o.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN o.text IS NOT DISTINCT FROM v2.text THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM documents o FULL OUTER JOIN v2 ON o.doc_id = v2.doc_id
    ORDER BY doc_id
    """,
    "dataset snapshot diff (the versioning primitive behind incremental "
    "re-processing): per id, added/removed/changed/unchanged between two "
    "corpus versions - content fingerprinted SCAN-SIDE to 8-byte "
    "xxhash64, so the full-outer join shuffles (id, fingerprint) pairs, "
    "never document bodies. v2 is derived deterministically (10% of ids "
    "removed, ids<10 re-added under new ids, every 7th text modified); "
    "the oracle re-derives it and compares content EXACTLY (IS NOT "
    "DISTINCT FROM) - agreement also witnesses the fingerprint contract. "
    "Full SQL oracle",
)
def dataset_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.relational import dataset_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    return dataset_diff(docs, v2, id_col="doc_id", content_cols=["text"])


@q(
    "snapshot_time_travel",
    """
    SELECT CAST(1 AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT CAST(2 AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    ORDER BY version
    """,
    "versioned corpus snapshots (r12 - manifest-committed time "
    "travel, io.write_snapshot/read_at_version): commit v1 = 2/3 of "
    "orders, append v2 = the rest, REPLAY the v2 commit with the "
    "same commit_id (must be a no-op - a duplicate append would "
    "double v2's rows and break the match), then read BOTH versions "
    "back through their manifests and aggregate. The oracle "
    "re-derives each version's rows from the base table, so any "
    "manifest defect - append not carrying parent files, time "
    "travel seeing later commits, non-idempotent replay - breaks "
    "the value match. Full SQL oracle",
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version, write_snapshot

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_tt_")
    k = F.col("o_orderkey")
    v1 = write_snapshot(orders.filter(k % 3 != 0), tdir, mode="overwrite", commit_id="c1")
    v2 = write_snapshot(orders.filter(k % 3 == 0), tdir, mode="append", commit_id="c2")
    # retry replay: same commit_id must return the same version
    # without writing anything (the idempotent-sink contract)
    v2 = write_snapshot(orders.filter(k % 3 == 0), tdir, mode="append", commit_id="c2")

    def _summ(v: int) -> DataFrame:
        return (
            read_at_version(spark, tdir, v)
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .select(F.lit(v).cast("int").alias("version"), "n", "total")
        )

    return _summ(v1).unionByName(_summ(v2)).orderBy("version")


@q(
    "snapshot_incremental",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    "incremental snapshot reads (r12 - io.read_version_delta, the "
    "process-only-what-landed-since primitive): commit v1 = 2/3 of "
    "orders, append v2 = the rest, then read ONLY the v1->v2 delta "
    "through the manifests and aggregate it. The oracle re-derives "
    "the appended slice from the base table, so a delta that leaks "
    "v1 files (or misses v2 files) breaks the value match. "
    "Full SQL oracle",
)
def snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_version_delta, write_snapshot

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_inc_")
    k = F.col("o_orderkey")
    v1 = write_snapshot(orders.filter(k % 3 != 0), tdir, mode="overwrite", commit_id="i1")
    write_snapshot(orders.filter(k % 3 == 0), tdir, mode="append", commit_id="i2")
    delta = read_version_delta(spark, tdir, v1)
    return delta.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


@q(
    "snapshot_upsert",
    """
    WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, -1, 1.0 FROM orders WHERE o_orderkey % 100 = 0
    ),
    merged AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT * FROM upd
    )
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM merged GROUP BY 1
    """,
    "snapshot MERGE/upsert (r13 - the lakehouse write primitive, "
    "io.snapshot_merge): the table is committed from orders, then an "
    "update set (modified totals for matched keys + brand-new keys) "
    "merges in as a new version with file-granular copy-on-write - "
    "footer-stats key ranges bound the candidates, one semi-join "
    "finds the files actually holding matched keys, only those are "
    "rewritten. The oracle re-derives the merged state from the base "
    "table, so a lost update, a duplicated key, or a dropped "
    "untouched file breaks the value match. Full SQL oracle",
)
def snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version, snapshot_merge, write_snapshot

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tdir = tempfile.mkdtemp(prefix="q_snapshot_merge_")
    k = F.col("o_orderkey")
    # sort by key so footer stats carry tight disjoint key ranges —
    # the candidate pruning the merge exercises at scale
    write_snapshot(
        orders.repartitionByRange(8, k), tdir, mode="overwrite", commit_id="m1"
    )
    updates = (
        orders.filter(k % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .unionByName(
            orders.filter(k % 100 == 0).select(
                (k + 100000000).alias("o_orderkey"),
                F.lit(-1).cast("bigint").alias("o_custkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    snapshot_merge(spark, tdir, updates, ["o_orderkey"], commit_id="m2")
    return (
        read_at_version(spark, tdir)
        .groupBy((k % 4).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )


@q(
    "snapshot_delete_rows",
    """
    SELECT CAST(l_orderkey % 3 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total,
           ROUND(MAX(l_quantity), 2) AS max_qty
    FROM lineitem WHERE NOT (l_quantity > 45)
    GROUP BY 1
    """,
    "snapshot row-level DELETE (r13 - io.snapshot_delete, the "
    "GDPR/retention primitive): lineitem is committed range-sorted on "
    "l_quantity (tight per-file footer ranges), then rows with "
    "quantity > 45 are deleted as a new copy-on-write version - the "
    "prune range skips the low-quantity files WITHOUT reading them, "
    "the matching files are rewritten predicate-inverted, untouched "
    "files carry over by reference. The oracle re-derives the "
    "surviving rows from the base table, so an over- or under-delete "
    "(or a dropped untouched file) breaks the value match. Full SQL "
    "oracle",
)
def snapshot_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version, snapshot_delete, write_snapshot

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    tdir = tempfile.mkdtemp(prefix="q_snapshot_del_")
    write_snapshot(
        li.repartitionByRange(8, F.col("l_quantity")),
        tdir,
        mode="overwrite",
        commit_id="d1",
    )
    snapshot_delete(
        spark,
        tdir,
        F.col("l_quantity") > 45,
        prune=[("l_quantity", 45.0, None)],
        commit_id="d2",
    )
    return (
        read_at_version(spark, tdir)
        .groupBy((F.col("l_orderkey") % 3).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
        )
    )


@q(
    "snapshot_schema_evolution",
    """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS DOUBLE) AS cust_ref
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS cust_ref
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN cust_ref IS NULL THEN 1 END) AS BIGINT) AS n_nullref,
           ROUND(SUM(o_totalprice), 2) AS total,
           COALESCE(ROUND(SUM(cust_ref), 2), -1.0) AS sum_ref
    FROM u GROUP BY 1
    """,
    "additive snapshot schema evolution (r14 - io.write_snapshot + "
    "_read_snapshot_files): half of orders is committed under the "
    "2-column schema, the other half APPENDS with a new nullable "
    "cust_ref column - the commit widens the table schema in the "
    "manifest, and the head read projects the PRE-evolution files "
    "through it, null-filling cust_ref. The oracle re-derives the "
    "union with explicit NULL backfill, so a refused append, an "
    "unwidened schema, or wrong null-fill (n_nullref/sum_ref) breaks "
    "the value match; retype/drop rejection is pinned in pytest. "
    "Full SQL oracle",
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version, write_snapshot

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_evo_")
    write_snapshot(
        orders.filter(k % 2 == 0)
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(4, k),
        tdir,
        mode="overwrite",
        commit_id="e1",
    )
    write_snapshot(
        orders.filter(k % 2 == 1)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_custkey").cast("double").alias("cust_ref"),
        )
        .repartitionByRange(4, k),
        tdir,
        mode="append",
        commit_id="e2",
    )
    return (
        read_at_version(spark, tdir)
        .groupBy((k % 4).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count(F.when(F.col("cust_ref").isNull(), 1)).cast("bigint").alias("n_nullref"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            # buckets whose keys are all even carry NO cust_ref rows:
            # SUM is NULL — coalesce to a sentinel in BOTH engines
            # (Spark None vs DuckDB NaN stringify differently in the
            # comparator; the NULL-fill evidence lives in n_nullref)
            F.coalesce(F.round(F.sum("cust_ref"), 2), F.lit(-1.0)).alias("sum_ref"),
        )
    )


@q(
    "snapshot_sharded_manifest",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders
    ),
    upd AS (
      SELECT o_orderkey, o_totalprice + 500.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd
    )
    SELECT CAST(o_orderkey % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM merged WHERE NOT (o_totalprice > 400000.0)
    GROUP BY 1
    """,
    "sharded manifest format v2 (r14 - the metadata-scale fix from "
    "the r13 verdict: tools/manifest_scale_bench.py measured the flat "
    "manifest's O(files) JSON cost at 2.3 s/commit @ 1e5 files): the "
    "table commits with group/threshold sizes forced low so the "
    "manifest is a GROUP-REF list (immutable uuid-named blobs under "
    "manifests/groups/, group-level column bounds), then a merge "
    "rewrites only touched groups (others carry by reference) and a "
    "prune-bounded delete exercises group-level skipping. The oracle "
    "re-derives merged-then-deleted state from the base table, so a "
    "lost group ref, a stale carried group, or an over-pruned group "
    "breaks the value match. Full SQL oracle",
)
def snapshot_sharded_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark import io as bio

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_shard_")
    old = (bio._SNAPSHOT_SHARD_THRESHOLD, bio._SNAPSHOT_GROUP_TARGET)
    try:
        # force v2 at gate scale: 12 range-sorted files, 3-file groups
        bio._SNAPSHOT_SHARD_THRESHOLD, bio._SNAPSHOT_GROUP_TARGET = 8, 3
        bio.write_snapshot(
            orders.repartitionByRange(12, k), tdir, mode="overwrite", commit_id="s1"
        )
        updates = orders.filter(k % 20 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 500.0
        )
        bio.snapshot_merge(spark, tdir, updates, ["o_orderkey"], commit_id="s2")
        bio.snapshot_delete(
            spark,
            tdir,
            F.col("o_totalprice") > 400000.0,
            prune=[("o_totalprice", 400000.0, None)],
            commit_id="s3",
        )
    finally:
        bio._SNAPSHOT_SHARD_THRESHOLD, bio._SNAPSHOT_GROUP_TARGET = old
    return (
        bio.read_at_version(spark, tdir)
        .groupBy((k % 5).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@q(
    "badwords_filter_stats",
    r"""
    WITH toks AS (
      SELECT n_chars, lower(text) AS lt,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents
    ), h AS (
      SELECT n_chars, lt,
             len(list_distinct(list_intersect(ts, ['slow','broken','spam','vector']))) AS hits
      FROM toks
    )
    SELECT CAST(hits AS INT) AS n_banned_hits,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM h
    WHERE hits <= 1
      AND NOT regexp_matches(lt, '(?:^|\s)(?:fast\s+table)(?:\s|$|[.,;:!?])')
    GROUP BY 1
    """,
    "banned-words curation filter (r14 - the C4 'bad words' stage, "
    "Raffel et al. 2020; RefinedWeb keeps the counted signal): "
    "documents keep at most max_hits=1 DISTINCT banned words and must "
    "not match a banned PHRASE. The word list is a broadcast literal "
    "array intersected with the token array - ONE codegen "
    "array_intersect per row, hash-based, NO regex alternation (the "
    "PSL stress probe measured that trap at 74 s/1M rows); only the "
    "short phrase list uses an anchored regex. The oracle re-derives "
    "the kept set and per-hit-count histogram with DuckDB list ops. "
    "Full SQL oracle",
)
def badwords_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    banned = ["slow", "broken", "spam", "vector"]
    kept = TX.badwords_filter(
        docs, banned, max_hits=1, phrases=["fast table"], keep_signal=True
    )
    return kept.groupBy(
        F.col("n_banned_hits").cast("int").alias("n_banned_hits")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@q(
    "snapshot_change_feed",
    """
    WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    upd AS (SELECT k, p + 500.0 AS p FROM base WHERE k % 20 = 0),
    ins AS (SELECT k + 300000000 AS k, 1.0 AS p FROM base WHERE k % 100 = 0),
    merged AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    ),
    changes AS (
      SELECT 2 AS v, 'update_postimage' AS t, k, p FROM upd
      UNION ALL SELECT 2, 'insert', k, p FROM ins
      UNION ALL SELECT 3, 'delete', k, p FROM merged WHERE p > 400000.0
    )
    SELECT CAST(v AS INT) AS commit_version, t AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(p), 2) AS total
    FROM changes GROUP BY 1, 2
    """,
    "row-level CHANGE DATA FEED (r14 - io.read_version_changes, the "
    "CDF companion to the append-only delta read): orders is "
    "committed, a merge updates every 20th key and inserts new keys, "
    "a prune-bounded delete removes high-price rows - the feed then "
    "re-derives typed (insert / update_postimage / delete) change "
    "rows per commit by diffing ONLY each commit's rewritten files, "
    "row-level EXCEPT first so unchanged rows a rewrite carried emit "
    "NOTHING. The oracle re-derives the exact change set from the "
    "base table, so a phantom change, a missed delete, or a "
    "misclassified update breaks the value match. Full SQL oracle",
)
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark import io as bio

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    k = F.col("k")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_cdf_")
    v1 = bio.write_snapshot(
        orders.repartitionByRange(8, k), tdir, mode="overwrite", commit_id="c1"
    )
    updates = (
        orders.filter(k % 20 == 0)
        .withColumn("p", F.col("p") + 500.0)
        .unionByName(
            orders.filter(k % 100 == 0).select(
                (k + 300000000).alias("k"), F.lit(1.0).alias("p")
            )
        )
    )
    bio.snapshot_merge(spark, tdir, updates, ["k"], commit_id="c2")
    v3 = bio.snapshot_delete(
        spark, tdir, F.col("p") > 400000.0, prune=[("p", 400000.0, None)],
        commit_id="c3",
    )
    feed = bio.read_version_changes(spark, tdir, v1, v3, key_cols=["k"])
    return feed.groupBy(
        F.col("_commit_version").cast("int").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("p"), 2).alias("total"),
    )


@q(
    "snapshot_zorder_prune",
    """
    SELECT CAST(o_orderkey % 3 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice <= 80000 AND o_custkey <= 300
    GROUP BY 1
    """,
    "OPTIMIZE ZORDER on the snapshot log (r13 - io.snapshot_zorder): "
    "orders is committed SHUFFLED (every file spans the full value "
    "range, nothing prunes), rewritten Z-ordered on (o_totalprice, "
    "o_custkey) as a new overwrite commit, then read through a "
    "2-D manifest prune + the exact row filter. The oracle re-derives "
    "the filtered aggregate from the base table, so a prune that "
    "drops a needed file (or a zorder rewrite that loses/duplicates "
    "rows) breaks the value match; the files-opened reduction is "
    "pinned in pytest. Full SQL oracle",
)
def snapshot_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import (
        read_at_version,
        snapshot_zorder,
        write_snapshot,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tdir = tempfile.mkdtemp(prefix="q_snapshot_zorder_")
    write_snapshot(orders.repartition(8), tdir, mode="overwrite", commit_id="z1")
    snapshot_zorder(spark, tdir, ["o_totalprice", "o_custkey"], n_files=8)
    pruned = read_at_version(
        spark,
        tdir,
        prune=[("o_totalprice", None, 80000.0), ("o_custkey", None, 300.0)],
    )
    return (
        pruned.filter((F.col("o_totalprice") <= 80000) & (F.col("o_custkey") <= 300))
        .groupBy((F.col("o_orderkey") % 3).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@q(
    "temperature_mixture",
    r"""
    WITH g AS (
      SELECT lang,
             CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))) AS DOUBLE) AS n
      FROM documents GROUP BY lang
    ),
    pw AS (SELECT lang, n, POW(n, 0.3) AS p FROM g),
    tot AS (SELECT SUM(p) AS sp, SUM(n) AS total FROM pw)
    SELECT lang, CAST(n AS BIGINT) AS n_tokens,
           ROUND(p / sp, 6) AS weight,
           ROUND((p / sp) * 1.0 * total, 6) AS allocation,
           ROUND(CASE WHEN n > 0 THEN ((p / sp) * 1.0 * total) / n ELSE 0.0 END, 6) AS epochs
    FROM pw CROSS JOIN tot ORDER BY lang
    """,
    "temperature-based mixture sampling weights (mT5/XLM-R alpha=0.3 "
    "exponentiated multinomial - the policy UniMax replaced): w_g ~ "
    "n_g^alpha over per-language token counts; one map-side-combined "
    "count agg then |groups|-row arithmetic. epochs column exposes the "
    "unbounded-repetition overfit signal. Full SQL oracle",
)
def temperature_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.temperature_mixture(
        _docs(spark, sf_dir), "text", group_col="lang", alpha=0.3, budget_frac=1.0
    )


@q(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name, n.n_name AS n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer, top-20",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return R.topk(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


@q(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, r.total_revenue AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    "TPC-H Q15 shape: CTE revenue view + scalar-max subquery",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue")
    )
    best = rev.agg(F.max("total_revenue").alias("_best"))
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_best"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_limit
          FROM lineitem GROUP BY l_partkey) t
      ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_limit
    """,
    "TPC-H Q17 shape: correlated per-part avg subquery decorrelated to an aggregate join",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    limits = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("qty_limit"))
    small = li.join(limits, "l_partkey").filter(F.col("l_quantity") < F.col("qty_limit"))
    return small.agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))


@q(
    "q19_disjunctive_predicates",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 20)
       OR (p.p_type = 'PROMO' AND l.l_quantity < 5)
    """,
    "TPC-H Q19 shape: OR-of-ANDs join predicate (CNF pushdown exercise)",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") < 5))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


@q(
    "fuzzy_name_match",
    """
    SELECT c_custkey, c_name,
           CAST(levenshtein(c_name, 'Customer#000000042') AS BIGINT) AS dist
    FROM customer
    WHERE levenshtein(c_name, 'Customer#000000042') <= 2
    """,
    "fuzzy string matching (edit distance <= 2) — record-linkage primitive",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    dist = F.levenshtein("c_name", F.lit("Customer#000000042"))
    return c.filter(dist <= 2).select(
        "c_custkey", "c_name", dist.cast("bigint").alias("dist")
    )


@q(
    "curation_funnel",
    r"""
    WITH deduped AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY regexp_replace(lower(text), '\s+', ' ', 'g')
                                  ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, lang,
             ROUND(( least(length(text) / 500.0, 1.0)
                   + (1.0 - least(CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                                  / greatest(length(text), 1) * 2.0, 1.0))
                   + least(CAST(len(list_filter(
                         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                         x -> list_contains(['the','and','of','to','in','is','that','for','with','was'], x)))
                       AS DOUBLE)
                       / greatest(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')), 1)
                       * 5.0, 1.0)
                   ) / 3.0, 6) AS quality
      FROM deduped
    ),
    kept AS (SELECT doc_id, lang FROM scored WHERE quality >= 0.5),
    balanced AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5('balance' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM kept) t
      WHERE rn <= 50
    )
    SELECT 'raw' AS stage, CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n
    UNION ALL SELECT 'deduped', CAST((SELECT COUNT(*) FROM deduped) AS BIGINT)
    UNION ALL SELECT 'quality', CAST((SELECT COUNT(*) FROM kept) AS BIGINT)
    UNION ALL SELECT 'balanced', CAST((SELECT COUNT(*) FROM balanced) AS BIGINT)
    """,
    "end-to-end curation funnel: exact dedup → quality filter → class balance, "
    "per-stage counts (each stage is the engine's own operator; all replayed in SQL)",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    deduped = D.exact_dedup(d)
    scored = deduped.withColumn("quality", TX.quality_score("text"))
    kept = scored.filter(F.col("quality") >= 0.5)
    balanced = R.balanced_sample(kept, "lang", "doc_id", 50)
    stages = [
        ("raw", d), ("deduped", deduped), ("quality", kept), ("balanced", balanced)
    ]
    rows = None
    for name, df in stages:
        one = df.agg(F.count("*").cast("bigint").alias("n")).select(F.lit(name).alias("stage"), "n")
        rows = one if rows is None else rows.unionByName(one)
    return rows


@q(
    "balanced_sample_docs",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5('balance' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 20
    """,
    "class balancing: deterministic md5-ordered 20-per-language downsample",
)
def balanced_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return R.balanced_sample(d, "lang", "doc_id", 20).select("doc_id", "lang", "source")


@q(
    "upsert_orders",
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             ROUND(o_totalprice + 10.0, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, ROUND(o_totalprice, 2) AS o_totalprice
      FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM merged GROUP BY o_orderstatus
    """,
    "MERGE-style upsert (anti-join + union, one keyed shuffle) — the reference's "
    "idempotent-ingest semantic generalized; result folded to a checkable aggregate",
)
def upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    updates = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 10.0, 2).alias("o_totalprice"),
        )
    )
    merged = R.upsert(o, updates, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@q(
    "stats_agg_lineitem",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)  AS qty_price_corr,
           ROUND(stddev_samp(l_quantity), 6)            AS qty_sd,
           ROUND(var_samp(l_discount), 6)               AS disc_var,
           ROUND(covar_samp(l_quantity, l_tax), 6)      AS qty_tax_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "statistical aggregates: corr / stddev / variance / covariance per group",
)
def stats_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_sd"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.covar_samp("l_quantity", "l_tax"), 6).alias("qty_tax_cov"),
    )


@q(
    "posexplode_leading_tokens",
    r"""
    WITH g AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      FROM documents
    )
    SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS tok
    FROM g CROSS JOIN LATERAL
      (SELECT unnest(generate_series(1, least(len(toks), 5))) AS i) u
    """,
    "posexplode / lateral view: first 5 tokens of each document with ordinal position",
)
def posexplode_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.slice(TX.tokens("text"), 1, 5)
    return d.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "tok"
    )


@q(
    "text_repetition",
    r"""
    WITH r AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '),
                         t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                            i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS grams
      FROM r
    )
    SELECT doc_id,
           ROUND((len(grams) - len(list_distinct(grams)))::DOUBLE
                 / greatest(len(grams), 1), 6) AS rep_ratio
    FROM g
    """,
    "within-document repetition ratio (Gopher-style duplicate-3-gram fraction)",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.round(TX.repetition_ratio("text", 3), 6).alias("rep_ratio"))


@q(
    "contamination_check",
    r"""
    WITH r AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '),
                         t -> t <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
                    i -> array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram
      FROM r
    )
    SELECT DISTINCT d.doc_id
    FROM g d JOIN g e ON d.gram = e.gram
    WHERE e.doc_id % 50 = 0 AND d.doc_id % 50 <> 0
    """,
    "benchmark-contamination flags: training docs sharing a 5-gram with the eval split "
    "(eval side collapses to broadcast hash set — no text shuffle)",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return TX.contamination_flags(train, eval_docs, n=5)


@q(
    "pack_sequences_summary",
    PIPELINE_GOLDEN_SQL["pack_sequences_summary"],
    "token-budget sequence packing (mapInPandas first-fit per shard) — corpus "
    "fill stats (pinned-golden oracle, gen_pipeline_goldens.py)",
)
def pack_sequences_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators import packing as P

    d = _t(spark, sf_dir, "documents")
    return P.pack_summary(P.pack_sequences(d, budget=512), budget=512)


@q(
    "text_redact_pii",
    r"""
    WITH base AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@mail.example ph 555-123-4567 ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?\d{1,2}[ .-]\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b|\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}\b|\b\d{3}[ .-]\d{3}[ .-]\d{4}\b', '<PHONE>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS redacted
    FROM base
    """,
    "PII redaction (email/phone/IPv4 → typed tokens) over planted PII — byte-exact cross-engine",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ph 555-123-4567 ip 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return d.select("doc_id", TX.redact_pii(raw).alias("redacted"))


# ===========================================================================
# Dedup
# ===========================================================================

@q(
    "dedup_exact",
    r"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY regexp_replace(lower(text), '\s+', ' ', 'g')
                                ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1
    """,
    "exact dedup on normalized text, keep lowest doc_id",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup(d).select("doc_id", "lang", "source")


@q(
    "dedup_minhash_lsh",
    PIPELINE_GOLDEN_SQL["dedup_minhash_lsh"],
    "MinHash+LSH near-dup pairs, exact-Jaccard verified (pinned-golden oracle from "
    "the independent pure-Python replay, tools/gen_pipeline_goldens.py)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, threshold=0.5).orderBy("id_a", "id_b")


@q(
    "dedup_minhash_blocked",
    PIPELINE_GOLDEN_SQL["dedup_minhash_blocked"],
    "MinHash+LSH near-dup pairs with equality blocking on lang — bucket keys "
    "carry the block value, so pairs never cross languages (pinned-golden "
    "oracle: the independent replay with the same blocked bucketing)",
)
def dedup_minhash_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, threshold=0.5, block_cols=["lang"]).orderBy(
        "id_a", "id_b"
    )


@q(
    "dedup_simhash",
    PIPELINE_GOLDEN_SQL["dedup_simhash"],
    "SimHash near-dup pairs, Hamming<=3 (pinned-golden oracle, gen_pipeline_goldens.py)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.simhash_pairs(d).orderBy("id_a", "id_b")


@q(
    "dedup_ngram_jaccard",
    r"""
    WITH g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')
             )) AS grams
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split_regex(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '), t -> t <> '') AS toks
        FROM documents) raw
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / greatest(len(list_distinct(a.grams || b.grams)), 1), 6) AS jaccard
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / greatest(len(list_distinct(a.grams || b.grams)), 1) >= 0.3
    """,
    "exact word-3-gram Jaccard >= 0.3, blocked by lang (full SQL oracle)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.3, block_cols=["lang"]).orderBy("id_a", "id_b")


@q(
    "dedup_embedding_cosine",
    """
    WITH aug AS (
      SELECT vec_id, embedding, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding, label FROM embeddings WHERE vec_id < 3
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_aggregate(list_transform(generate_series(1, 64),
                            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum')
             / ( sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), 'sum'))
               * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum')) ), 6) AS cosine
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(generate_series(1, 64),
                         i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum')
          / ( sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), 'sum'))
            * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                   i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum')) ) >= 0.95
    """,
    "embedding-cosine near-dup pairs >= 0.95 — engine runs the LSH-banded "
    "candidate path (the 100 TB plan: keyed bucket join, no cartesian), "
    "verified against the exact all-pairs SQL oracle (LSH output ⊆ exact by "
    "construction). The corpus is augmented with exact clones of vec_ids "
    "0–2 (offset +1000000, identically in both engines) so the 0.95 path "
    "pins a NON-EMPTY answer — the raw fixture's max pairwise cosine is "
    "≈0.51, which made the r4 gate vacuous (both engines returned empty); "
    "identical vectors share every band key, so banding recall on the "
    "seeded pairs is deterministic, and their cosine rounds to exactly 1.0 "
    "in both engines",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    clones = e.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding", "label"
    )
    aug = e.select("vec_id", "embedding", "label").unionByName(clones)
    return S.embedding_neardup_pairs(aug, threshold=0.95).orderBy("id_a", "id_b")


@q(
    "dedup_embedding_lsh",
    PIPELINE_GOLDEN_SQL["dedup_embedding_lsh"],
    "embedding near-dup via the LSH-banded path at threshold 0.4 — low enough "
    "that the gate corpus has real pairs, so banding recall itself is part of "
    "the pinned answer (independent pure-Python replay of banding + verify)",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.embedding_neardup_pairs(e, threshold=0.4, method="lsh").orderBy("id_a", "id_b")


@q(
    "embedding_normalize",
    """
    WITH n AS (
      SELECT vec_id, label, embedding,
             sqrt(list_aggregate(list_transform(generate_series(1, 64),
                  i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')) AS l2
      FROM embeddings
    )
    SELECT vec_id, label,
           ROUND(l2, 6) AS l2,
           -- sum of per-element divisions, matching the Spark fold's
           -- float-op order exactly
           ROUND(list_aggregate(list_transform(generate_series(1, 64),
                 i -> embedding[i]::DOUBLE / l2), 'sum'), 6) AS unit_sum
    FROM n
    """,
    "L2 normalization of the embedding column (norm + unit-vector component checksum)",
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    unit = S.l2_normalize(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.round(S.norm(S._as_double(F.col("embedding"))), 6).alias("l2"),
        F.round(F.aggregate(unit, F.lit(0.0), lambda a, x: a + x), 6).alias("unit_sum"),
    )


# ===========================================================================
# Similarity search
# ===========================================================================

@q(
    "ann_brute_topk",
    """
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_aggregate(list_transform(generate_series(1, 64),
                            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum')
             / ( sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), 'sum'))
               * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum')) ) AS cos_raw
      FROM q JOIN embeddings c ON q.vec_id <> c.vec_id)
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk FROM scored) t
    WHERE rnk <= 5
    """,
    "exact cosine top-5 for 8 query vectors (brute baseline, SQL oracle)",
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.brute_topk(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "hard_negatives",
    """
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_aggregate(list_transform(generate_series(1, 64),
                            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum')
             / ( sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE), 'sum'))
               * sqrt(list_aggregate(list_transform(generate_series(1, 64),
                      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), 'sum')) ) AS cos_raw
      FROM q JOIN embeddings c
        ON q.vec_id <> c.vec_id AND c.label IS DISTINCT FROM q.label)
    SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk FROM scored) t
    WHERE rnk <= 5
    """,
    "hard-negative mining for contrastive training (DPR/ANCE pattern): "
    "exact cosine top-5 DIFFERENT-label corpus vectors per query - the "
    "closest wrong answers. Broadcast query block, one codegen corpus "
    "scan, null-safe label filter. Full SQL oracle",
)
def hard_negatives_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.hard_negatives(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "ann_ivf_topk",
    PIPELINE_GOLDEN_SQL["ann_ivf_topk"],
    "IVF-cell approximate top-k, sampled centroids + n_probe re-rank "
    "(pinned-golden oracle, gen_pipeline_goldens.py)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.ivf_topk(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "unigram_perplexity",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scal AS (
      SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           AVG(-log2((counts.c + 0.5) / (scal.n_total + 0.5 * scal.v))) AS nll_per_token
    FROM toks JOIN counts USING (tok) CROSS JOIN scal
    GROUP BY toks.doc_id
    """,
    "CCNet-style perplexity filtering reduced to an exactly-SQL-replayable "
    "unigram LM: one token-count aggregate trains the LM, every document "
    "scored by mean negative log2 probability (add-0.5 smoothing) - high "
    "score = far from the corpus distribution. Full SQL oracle",
)
def unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_score(docs).orderBy("doc_id")


@q(
    "bigram_perplexity",
    r"""
    WITH base AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents
      WHERE len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) > 0
    ), uni AS (
      SELECT tok, COUNT(*) AS c
      FROM (SELECT unnest(ts) AS tok FROM base) GROUP BY tok
    ), scal AS (
      SELECT SUM(c) AS n_total, COUNT(*) AS v FROM uni
    ), bi AS (
      SELECT b[1] AS prev, b[2] AS cur, COUNT(*) AS cb
      FROM (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS b FROM base)
      GROUP BY 1, 2
    ), ctx AS (
      SELECT prev, SUM(cb) AS cc FROM bi GROUP BY prev
    ), first AS (
      SELECT doc_id, -log2((uni.c + 0.5) / (scal.n_total + 0.5 * scal.v)) AS nll
      FROM (SELECT doc_id, ts[1] AS tok FROM base)
      JOIN uni USING (tok) CROSS JOIN scal
    ), rest AS (
      SELECT doc_id,
             -log2(0.7 * (bi.cb / ctx.cc)
                   + (1.0 - 0.7) * ((uni.c + 0.5) / (scal.n_total + 0.5 * scal.v))) AS nll
      FROM (SELECT doc_id, b[1] AS prev, b[2] AS cur
            FROM (SELECT doc_id, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS b
                  FROM base))
      JOIN bi USING (prev, cur)
      JOIN ctx USING (prev)
      JOIN uni ON uni.tok = cur
      CROSS JOIN scal
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           AVG(nll) AS nll_per_token
    FROM (SELECT * FROM first UNION ALL SELECT * FROM rest)
    GROUP BY doc_id
    """,
    "Interpolated bigram-LM perplexity (Jelinek-Mercer, Chen & Goodman "
    "1999) - one modeling step past the unigram scorer toward CCNet's "
    "5-gram KenLM: P(w|prev) = 0.7*MLE(bigram) + 0.3*add-k unigram; "
    "position 1 scores under the unigram. Bigrams built SCAN-SIDE "
    "(arrays_zip of the token array against its tail - no per-doc "
    "window shuffle); counts are two map-side-combined aggs; scoring "
    "is keyed joins + one per-doc avg. Full SQL oracle",
)
def bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import bigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob_score(docs).orderBy("doc_id")


@q(
    "cms_heavy_hitters",
    PIPELINE_GOLDEN_SQL["cms_heavy_hitters"],
    "Count-Min sketch (Cormode & Muthukrishnan 2005) over the corpus "
    "token stream: 4x4096 cells, ONE map-side-combined (row,col) count "
    "agg regardless of vocabulary size; the exact top-20 tokens carry "
    "their CMS point estimate (min over depth rows, shipped back as one "
    "array Literal - scan-side lookups). Always est >= exact; "
    "all-integer, so the pinned-golden replay (ported xxhash64) is "
    "bit-exact",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import cms_estimate, count_min_cells

    docs = _t(spark, sf_dir, "documents")
    depth, width = 4, 1 << 12
    cells = [
        (r["row"], r["col"], r["c"])
        for r in count_min_cells(docs, depth=depth, width=width).collect()
    ]
    top = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("exact"))
        .orderBy(F.desc("exact"), F.asc("tok"))
        .limit(20)
    )
    return cms_estimate(top, cells, depth=depth, width=width).select(
        "tok", "exact", F.col("est").cast("bigint").alias("est")
    )


@q(
    "bloom_dedup_probe",
    PIPELINE_GOLDEN_SQL["bloom_dedup_probe"],
    "Bloom-filter cross-batch dedup probe (Bloom 1970): build a 16 "
    "Ki-bit / k=5 bitmap over the first 250 docs' text, probe EVERY doc "
    "scan-side (bitmap ships as one array Literal, k codegen bit tests, "
    "zero shuffle) - the low-memory front door before the exact verify "
    "join. No false negatives; false positives are deterministic "
    "pmod(xxhash64) bits, so the pinned-golden oracle (independent "
    "pure-Python replay with the ported hash) reproduces them exactly",
)
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.dedup import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents")
    words = bloom_build(
        docs.filter(F.col("doc_id") < 250), col="text", n_bits=1 << 14, n_hashes=5
    )
    return (
        bloom_probe(docs, words, col="text", n_hashes=5)
        .select("doc_id", "maybe_seen")
        .orderBy("doc_id")
    )


@q(
    "corpus_drift",
    """
    WITH toks AS (
      SELECT source AS g, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
      WHERE source IS NOT NULL AND t.tok <> ''
    ), gcounts AS (
      SELECT g, tok, COUNT(*) AS cg FROM toks GROUP BY g, tok
    ), tcounts AS (
      SELECT tok, SUM(cg) AS ct FROM gcounts GROUP BY tok
    ), gtotals AS (
      SELECT g, SUM(cg) AS ng, COUNT(*) AS n_types FROM gcounts GROUP BY g
    ), total AS (
      SELECT SUM(ct) AS n_all FROM tcounts
    ), terms AS (
      SELECT gc.g, gt.ng, gt.n_types, tt.n_all,
             CASE WHEN tc.ct > gc.cg
                  THEN 0.5 * (gc.cg / gt.ng)
                         * log2(2.0 * (gc.cg / gt.ng)
                                / ((gc.cg / gt.ng) + ((tc.ct - gc.cg) / (tt.n_all - gt.ng))))
                     + 0.5 * ((tc.ct - gc.cg) / (tt.n_all - gt.ng))
                         * log2(2.0 * ((tc.ct - gc.cg) / (tt.n_all - gt.ng))
                                / ((gc.cg / gt.ng) + ((tc.ct - gc.cg) / (tt.n_all - gt.ng))))
                  ELSE 0.5 * (gc.cg / gt.ng) END AS term,
             (tc.ct - gc.cg) / (tt.n_all - gt.ng) AS q
      FROM gcounts gc JOIN tcounts tc USING (tok)
           JOIN gtotals gt USING (g) CROSS JOIN total tt
    )
    SELECT g AS source,
           CAST(MAX(ng) AS BIGINT) AS n_tokens,
           CAST(MAX(n_types) AS BIGINT) AS n_types,
           CASE WHEN MAX(n_all) > MAX(ng)
                THEN SUM(term) + 0.5 * (1.0 - SUM(q)) END AS js_divergence
    FROM terms GROUP BY g ORDER BY source
    """,
    "per-slice corpus drift: Jensen-Shannon divergence (log2 base, JS in "
    "[0,1]) between each source's unigram distribution and the REST of the "
    "corpus - the corpus-monitoring signal for which slice drifted from "
    "the mix. JS is finite without smoothing, so the computation stays "
    "SPARSE: absent-token mass telescopes to (1 - sum q)/2 over the "
    "slice's own support; one keyed token join, no vocab cross product. "
    "Full SQL oracle",
)
def corpus_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import corpus_drift

    docs = _t(spark, sf_dir, "documents")
    return corpus_drift(docs)


@q(
    "ks_drift",
    """
    WITH base AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), counts AS (
      SELECT g, v, COUNT(*) AS c FROM base GROUP BY g, v
    ), grps AS (
      SELECT g, SUM(c) AS ng FROM counts GROUP BY g
    ), vals AS (
      SELECT v, SUM(c) AS nv FROM counts GROUP BY v
    ), tot AS (
      SELECT SUM(ng) AS n FROM grps
    ), grid AS (
      SELECT grps.g, vals.v, vals.nv, grps.ng, counts.c
      FROM vals CROSS JOIN grps
      LEFT JOIN counts ON counts.g = grps.g AND counts.v = vals.v
    ), cum AS (
      SELECT g, ng, v,
             SUM(COALESCE(c, 0)) OVER (PARTITION BY g ORDER BY v
                                       ROWS UNBOUNDED PRECEDING) AS cg,
             SUM(nv) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS ca
      FROM grid
    )
    SELECT g AS event_type,
           CAST(MIN(ng) AS BIGINT) AS n_slice,
           CAST(MIN(n - ng) AS BIGINT) AS n_rest,
           MAX(ABS(cg / ng - (ca - cg) / NULLIF(n - ng, 0))) AS ks_d
    FROM cum CROSS JOIN tot
    GROUP BY g ORDER BY g
    """,
    "Per-slice numeric drift (r8): two-sample Kolmogorov-Smirnov "
    "D = sup|ECDF_slice - ECDF_rest| of the event value per event_type "
    "- the numeric complement of corpus_drift's token JS. One (group, "
    "value) count agg, a |values| x |slices| window grid (slices are "
    "few), one cumsum window per slice; exact (sup attained at "
    "observed values). Full SQL oracle",
)
def ks_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.ks_drift(ev, "event_type", "value")


@q(
    "exact_substring_spans",
    """
    WITH docs AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(r.pos AS BIGINT) AS pos,
             array_to_string(toks[r.pos+1 : r.pos+15], ' ') AS gram
      FROM docs, unnest(range(len(toks) - 15 + 1)) AS r(pos)
      WHERE len(toks) >= 15
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1
    ), hits AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 15
                  THEN 0 ELSE 1 END AS is_new
      FROM hits
    ), isl AS (
      SELECT doc_id, pos, SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT)          AS span_start,
           CAST(MAX(pos) + 15 AS BIGINT)     AS span_end,
           CAST(MAX(pos) + 15 - MIN(pos) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
    """,
    "ExactSubstr duplication (Lee et al. 2021) via the distributed L-gram "
    "reduction: a token position is duplicated iff its 15-gram occurs >= 2 "
    "times corpus-wide; maximal duplicate spans = merged runs of duplicated "
    "starts. Engine shuffles 8-byte xxhash64 fingerprints; the oracle "
    "re-derives the same spans from raw gram text in SQL (gaps-and-islands). "
    "Full SQL oracle",
)
def exact_substring_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return D.exact_substring_spans(docs, min_tokens=15).orderBy("doc_id", "span_start")


@q(
    "bm25_rank",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), scal AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('spark', 'window', 'hash', 'stream', 'vector')
      GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    )
    SELECT tf.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
           SUM( ln(1 + (scal.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                * tf.tf * (1.2 + 1)
                / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / scal.avgdl)) ) AS bm25
    FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN scal
    GROUP BY tf.doc_id
    """,
    "Okapi BM25 scoring (Robertson & Zaragoza 2009, Lucene idf variant) of "
    "every document against a 5-term query — the retrieval primitive for "
    "contamination audit / RAG ranking. Tokens filtered to query terms "
    "scan-side; df broadcast; raw-double score (compare layer rounds both "
    "engines). Full SQL oracle",
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(
        docs, ["spark", "window", "hash", "stream", "vector"]
    ).orderBy("doc_id")


@q(
    "hybrid_rank_rrf",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), scal AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('spark', 'window', 'hash', 'stream', 'vector')
      GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), bm AS (
      SELECT tf.doc_id,
             SUM( ln(1 + (scal.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                  * tf.tf * (1.2 + 1)
                  / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / scal.avgdl)) ) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN scal
      GROUP BY tf.doc_id
    ), bmr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(bm25, 9) DESC, doc_id) AS bm25_rank
      FROM bm
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scal2 AS (
      SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts
    ), ppl AS (
      SELECT toks.doc_id,
             AVG(-log2((counts.c + 0.5) / (scal2.n_total + 0.5 * scal2.v))) AS nll
      FROM toks JOIN counts USING (tok) CROSS JOIN scal2
      GROUP BY toks.doc_id
    ), qr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(nll, 9) ASC, doc_id) AS quality_rank
      FROM ppl
    )
    SELECT CAST(COALESCE(b.doc_id, q.doc_id) AS BIGINT) AS doc_id,
           CAST(COALESCE(b.bm25_rank, 0) AS BIGINT) AS bm25_rank,
           CAST(COALESCE(q.quality_rank, 0) AS BIGINT) AS quality_rank,
           COALESCE(1.0 / (60 + b.bm25_rank), 0) + COALESCE(1.0 / (60 + q.quality_rank), 0) AS rrf_score
    FROM (SELECT * FROM bmr WHERE bm25_rank <= 100) b
    FULL JOIN (SELECT * FROM qr WHERE quality_rank <= 100) q ON b.doc_id = q.doc_id
    """,
    "Reciprocal Rank Fusion (Cormack et al. 2009) of two top-100 rankers — "
    "BM25 relevance (desc) and unigram-LM quality (nll asc) — the standard "
    "hybrid-retrieval combiner. Fusion works on RANKS (9-dp-rounded scores, "
    "doc_id tie-break), so the RRF sum is an exact rational both engines "
    "reproduce bit-identically; absent-from-ranker reported as rank 0 "
    "(keeps the compare integer-typed). Full SQL oracle",
)
def hybrid_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.relational import rrf_fuse
    from bigdata_foundation_spark.operators.text import bm25_scores, unigram_logprob_score

    docs = _t(spark, sf_dir, "documents")
    bm = (
        bm25_scores(docs, ["spark", "window", "hash", "stream", "vector"])
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.round(F.col("bm25"), 9).desc(), F.col("doc_id").asc())
            ),
        )
        .filter(F.col("rank") <= 100)
    )
    ql = (
        unigram_logprob_score(docs)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.round(F.col("nll_per_token"), 9).asc(), F.col("doc_id").asc())
            ),
        )
        .filter(F.col("rank") <= 100)
    )
    fused = rrf_fuse({"bm25": bm, "quality": ql})
    return fused.select(
        "doc_id",
        F.coalesce("bm25_rank", F.lit(0)).cast("bigint").alias("bm25_rank"),
        F.coalesce("quality_rank", F.lit(0)).cast("bigint").alias("quality_rank"),
        "rrf_score",
    ).orderBy("doc_id")


@q(
    "dsir_scores",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), ttoks AS (
      SELECT * FROM toks WHERE doc_id % 7 = 0
    ), src AS (
      SELECT tok, COUNT(*) AS c_src FROM toks GROUP BY tok
    ), tgt AS (
      SELECT tok, COUNT(*) AS c_tgt FROM ttoks GROUP BY tok
    ), feat AS (
      SELECT COALESCE(src.tok, tgt.tok) AS tok,
             COALESCE(c_src, 0) AS c_src, COALESCE(c_tgt, 0) AS c_tgt
      FROM src FULL JOIN tgt ON src.tok = tgt.tok
    ), scal AS (
      SELECT SUM(c_src) AS n_src, SUM(c_tgt) AS n_tgt, COUNT(*) AS v FROM feat
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           AVG( log2((feat.c_tgt + 0.5) / (scal.n_tgt + 0.5 * scal.v))
              - log2((feat.c_src + 0.5) / (scal.n_src + 0.5 * scal.v)) ) AS dsir_logratio
    FROM toks JOIN feat ON toks.tok = feat.tok CROSS JOIN scal
    GROUP BY toks.doc_id
    """,
    "DSIR importance scoring (Xie et al. 2023): every raw document scored "
    "by mean per-token log2 importance ratio between a target-slice unigram "
    "LM (doc_id % 7 = 0 here; wiki/curated in production) and the raw-corpus "
    "LM, shared smoothed feature space. The data-selection primitive for "
    "domain-targeted pretraining mixes; dsir_gumbel_topk resamples (pytest). "
    "Full SQL oracle",
)
def dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import dsir_logratio_scores

    docs = _t(spark, sf_dir, "documents")
    return dsir_logratio_scores(
        docs, docs.filter(F.col("doc_id") % 7 == 0)
    ).orderBy("doc_id")


@q(
    "semantic_dedup",
    PIPELINE_GOLDEN_SQL["semantic_dedup"],
    "SemDeDup (Abbas et al. 2023): semantic dedup of the embedding corpus "
    "- deterministic IVF clustering bounds the candidate set, within-cell "
    "exact cosine >= 0.95 pairs close transitively, lowest id kept. "
    "Pinned-golden oracle: independent pure-Python replay (centroids + "
    "pairs + union-find closure)",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(e, threshold=0.95).orderBy("vec_id")


@q(
    "ann_pq_topk",
    PIPELINE_GOLDEN_SQL["ann_pq_topk"],
    "product-quantized approximate top-k by asymmetric distance "
    "computation (Jegou et al. 2011): corpus stored as m=8 subspace "
    "codes (32x less scan IO than raw floats), queries rank the whole "
    "corpus by m table lookups; deterministic sample-trained codebooks "
    "(pinned-golden oracle: independent pure-Python PQ replay)",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.pq_topk(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "ann_ivf_pq_topk",
    PIPELINE_GOLDEN_SQL["ann_ivf_pq_topk"],
    "IVF x PQ composed ANN (FAISS IVFADC, Jegou et al. 2011 SIV): "
    "corpus coarse-quantized into IVF cells, residuals PQ-encoded to "
    "m=8 codes, each query ADC-scans only its n_probe nearest cells — "
    "the partition-pruned probe AND the 32x-compressed scan in one "
    "operator (pinned-golden oracle: independent pure-Python IVFADC "
    "replay)",
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.ivf_pq_topk(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "ann_ivf_pq_refine",
    PIPELINE_GOLDEN_SQL["ann_ivf_pq_refine"],
    "IVFADC + exact re-rank refine tail (FAISS IndexRefineFlat): the "
    "ADC scan shortlists 20 candidates per query, only those rows are "
    "re-scored against the true vectors via one broadcast hash join, "
    "final top-5 ranks on exact squared L2 — the standard third stage "
    "of the production ANN pipeline (pinned-golden oracle: independent "
    "pure-Python replay incl. the refine tail)",
)
def ann_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.ivf_pq_refine_topk(e, qs, k=5, shortlist=20)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "ann_lsh_topk",
    PIPELINE_GOLDEN_SQL["ann_lsh_topk"],
    "LSH-bucketed approximate top-k (pinned-golden oracle, gen_pipeline_goldens.py)",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.lsh_topk(e, qs, k=5)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


@q(
    "ann_lsh_multiprobe",
    PIPELINE_GOLDEN_SQL["ann_lsh_multiprobe"],
    "multi-probe LSH top-k (Lv 2007): the query side additionally probes every "
    "band key at Hamming distance 1, raising recall without more hash tables — "
    "the corpus is still hashed exactly once (pinned-golden oracle from the "
    "independent replay with the same probe fan-out)",
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    res = S.lsh_topk(e, qs, k=5, multi_probe=1)
    return res.withColumn("rank", F.col("rank").cast("bigint"))


# ===========================================================================
# Multimodal plumbing
# ===========================================================================

@q(
    "multimodal_ingest",
    """
    SELECT doc_id AS media_id,
           'application/octet-stream' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
    FROM documents
    """,
    "binary column ingest: payload + typed metadata (SQL oracle on sizes)",
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return M.attach_binary(d).select("media_id", "media_type", "byte_len")


@q(
    "multimodal_decode",
    """
    WITH d AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
             16 + ('0x' || substr(sha256(text), 1, 2))::INT % 240 AS w0,
             16 + ('0x' || substr(sha256(text), 3, 2))::INT % 240 AS h0
      FROM documents
    )
    SELECT media_id, byte_len,
           CAST(ceil(w0 * least(1.0, 64.0 / greatest(w0, h0))) AS INT) AS width,
           CAST(ceil(h0 * least(1.0, 64.0 / greatest(w0, h0))) AS INT) AS height
    FROM d
    """,
    "Arrow-batched mapInPandas decode/feature-extract; the deterministic stub codec is "
    "sha256-based, so the oracle replays it in SQL (resize arithmetic in identical float order)",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = M.attach_binary(d)
    return M.resize_stub(M.decode_features(media)).select(
        "media_id", "byte_len", "width", "height"
    )


@q(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id, CAST(unnest(generate_series(1,
             least(greatest(octet_length(encode(text)) // 64, 1), 8))) AS BIGINT) AS frame_no
    FROM documents
    """,
    "frame sampling explode shape (SQL oracle on frame counts)",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    frames = M.frame_sample(M.attach_binary(d))
    return frames.select("media_id", (F.col("frame_idx") + 1).cast("bigint").alias("frame_no"))


@q(
    "multimodal_audio_decode",
    PIPELINE_GOLDEN_SQL["multimodal_audio_decode"],
    "REAL stdlib WAV/PCM decode (r10 debut): deterministic synth payloads -> RIFF parse, "
    "8/16-bit PCM normalize, sample-derived features; pinned golden from the independent "
    "integer-hash replay (tools/gen_pipeline_goldens.audio_golden)",
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    dec = M.decode_features(M.synth_wav_table(d))
    return dec.select(
        "media_id",
        F.col("width").alias("n_frames"),
        F.col("height").alias("n_channels"),
        F.round(F.col("feature")[3].cast("double"), 6).alias("rms"),
        F.round(F.col("feature")[5].cast("double"), 6).alias("zcr"),
    )


@q(
    "multimodal_video_frames",
    PIPELINE_GOLDEN_SQL["multimodal_video_frames"],
    "REAL stdlib uncompressed-AVI decode + frame sampling (r10 debut): deterministic "
    "synth payloads -> RIFF/movi walk, per-frame DIB decode, every-2nd-frame sample, "
    "pixel features; pinned golden from the independent integer-hash replay "
    "(tools/gen_pipeline_goldens.video_golden)",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    frames = M.video_frame_table(M.synth_avi_table(d), every_n=2, max_frames=4)
    return frames.select(
        "media_id",
        "frame_no",
        "width",
        "height",
        F.round(F.col("feature")[3].cast("double"), 6).alias("gray_mean"),
        F.round(F.col("feature")[7].cast("double"), 6).alias("gray_std"),
    )


@q(
    "having_large_orders",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_big,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_custkey HAVING COUNT(*) >= 3
    """,
    "TPC-H Q18 shape: filtered aggregate + HAVING",
)
def having_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_big"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .filter(F.col("n_big") >= 3)
    )


@q(
    "argmin_supplier_per_nation",
    """
    SELECT s_nationkey, s_name AS cheapest_supplier, ROUND(min_bal, 2) AS min_bal
    FROM (
      SELECT s_nationkey, s_name, s_acctbal AS min_bal,
             ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                ORDER BY s_acctbal, s_suppkey) AS rn
      FROM supplier) t
    WHERE rn = 1
    """,
    "TPC-H Q2 shape: argmin per group (min_by / arg_min), deterministic tie-break",
)
def argmin_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.min_by("s_name", F.struct("s_acctbal", "s_suppkey")).alias("cheapest_supplier"),
        F.round(F.min("s_acctbal"), 2).alias("min_bal"),
    )


@q(
    "order_count_histogram",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey) t
    GROUP BY n_orders
    """,
    "TPC-H Q13 shape: distribution of per-customer order counts (double aggregation)",
)
def order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").cast("bigint").alias("n_customers"))


@q(
    "sketch_distinct_users",
    None,  # HLL is approximate and engine-specific — error bound pytested
    "HyperLogLog approximate distinct users per event type (sketch surface; rows-only gate)",
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).cast("bigint").alias("approx_users"),
    )


@q(
    "sketch_value_quantiles",
    None,  # approximate percentile sketch — error bound pytested
    "approx_percentile (quantile sketch) per event type (rows-only gate)",
)
def sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, 10000), 2).alias("p50_approx"),
        F.round(F.percentile_approx("value", 0.95, 10000), 2).alias("p95_approx"),
    )


_Q6_SQL = """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
"""


@q(
    "sql_q6_revenue",
    _Q6_SQL,
    "TPC-H Q6 shape through the spark.sql front-end — the ORACLE TEXT runs on both engines",
)
def sql_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


# ===========================================================================
# Structured Streaming (availableNow replay — result is the final table)
# ===========================================================================

@q(
    "streaming_hourly",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "watermarked tumbling-window stream agg; oracle = the BATCH SQL (stream≡batch equivalence)",
)
def streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import hourly_counts_stream, read_events_stream, run_to_memory

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(hourly_counts_stream(ev), "q_streaming_hourly", spark)


@q(
    "streaming_sliding",
    """
    WITH starts AS (
      SELECT ts, value,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) + INTERVAL 30 MINUTE]) AS cand
      FROM events),
    assigned AS (
      SELECT CASE WHEN ts >= cand THEN cand ELSE cand - INTERVAL 1 HOUR END AS win_start,
             value
      FROM starts)
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM assigned GROUP BY 1
    """,
    "sliding 1h/30min windows vs a two-anchor SQL expansion (each event in exactly 2 windows)",
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import read_events_stream, run_to_memory
    from bigdata_foundation_spark.streaming.events import sliding_counts_stream

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(sliding_counts_stream(ev), "q_streaming_sliding", spark)


@q(
    "streaming_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
    "session windows (30-min gap) vs gaps-and-islands SQL oracle",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import read_events_stream, run_to_memory, sessionize_stream

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(sessionize_stream(ev), "q_streaming_sessions", spark)


@q(
    "streaming_dedup",
    """
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM events
    """,
    "dropDuplicatesWithinWatermark replay (event_ids unique → identity; bounded state)",
)
def streaming_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import read_events_stream, run_to_memory, streaming_dedup

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    res = run_to_memory(streaming_dedup(ev), "q_streaming_dedup", spark)
    return res.select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))


@q(
    "streaming_running_zscore",
    """
    SELECT user_id, event_id,
           ROUND(value, 2) AS value_r,
           ROUND(z, 4) AS z_r,
           CAST(n_prior AS BIGINT) AS n_prior
    FROM (
      SELECT user_id, event_id, value,
             (value - AVG(value) OVER wprior) / STDDEV_SAMP(value) OVER wprior AS z,
             COUNT(value) OVER wprior AS n_prior
      FROM events
      WINDOW wprior AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ) t
    WHERE n_prior >= 5 AND z IS NOT NULL
    """,
    "custom stateful streaming op (applyInPandasWithState): per-user running z-score vs prior "
    "history; oracle = the equivalent batch window SQL (z at 4 dp absorbs accumulation-order ulps)",
)
def streaming_running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import read_events_stream, run_to_memory, running_zscore_stream

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    res = run_to_memory(running_zscore_stream(ev), "q_streaming_zscore", spark)
    return res.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value_r"),
        F.round("z", 4).alias("z_r"),
        F.col("n_prior").cast("bigint").alias("n_prior"),
    )


# ===========================================================================
# Graph workload (the reference's own queries, on its own data)
# ===========================================================================

# Per-session memo: ingest + cache the graph tables once, build the
# kernel projection once (the reference pays its projection load once
# per graph too, SURVEY.md §3.2 step 2). Keyed weakly by session so a
# new driver session just re-ingests.
_GRAPH_MEMO: dict[int, tuple] = {}


def _graph(spark: SparkSession):
    from bigdata_foundation_spark.graph import load_graph

    key = id(spark)
    if key not in _GRAPH_MEMO:
        _GRAPH_MEMO.clear()  # never hold caches of a dead session
        _GRAPH_MEMO[key] = load_graph(spark, SHENZHEN_CSV)
    return _GRAPH_MEMO[key]


_PROJ_MEMO: dict[int, object] = {}


def _graph_projection(spark: SparkSession):
    from bigdata_foundation_spark.graph.paths import build_projection

    key = id(spark)
    if key not in _PROJ_MEMO:
        nodes, roads = _graph(spark)
        _PROJ_MEMO.clear()
        _PROJ_MEMO[key] = build_projection(roads, nodes)
    return _PROJ_MEMO[key]


@q(
    "graph_nodes",
    """
    SELECT DISTINCT START_NODE AS NodeId,
           CAST(XCoord AS DOUBLE) AS XCoord, CAST(YCoord AS DOUBLE) AS YCoord
    FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                  header = true, all_varchar = true)
    WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    """,
    "I4 node dedup-upsert (3705 rows; full-table SQL oracle)",
)
def graph_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes, _ = _graph(spark)
    return nodes


@q(
    "graph_edges",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el)
    SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst,
           el.EDGE AS road_id, CAST(el.LENGTH AS DOUBLE) AS cost
    FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    """,
    "I5+I6 edge build with dangling-drop + quadruple dedup (9696 rows; SQL oracle)",
)
def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, roads = _graph(spark)
    return roads


@q(
    "graph_degree_distribution",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst,
             el.EDGE AS road_id, CAST(el.LENGTH AS DOUBLE) AS cost
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    outs AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src),
    ins  AS (SELECT dst AS id, COUNT(*) AS d FROM e GROUP BY dst),
    oh AS (SELECT d, COUNT(*) AS out_nodes FROM outs GROUP BY d),
    ih AS (SELECT d, COUNT(*) AS in_nodes FROM ins GROUP BY d)
    SELECT CAST(COALESCE(oh.d, ih.d) AS BIGINT) AS degree,
           CAST(COALESCE(out_nodes, 0) AS BIGINT) AS out_nodes,
           CAST(COALESCE(in_nodes, 0) AS BIGINT) AS in_nodes
    FROM oh FULL OUTER JOIN ih ON oh.d = ih.d
    """,
    "degree histogram of the ingested multigraph (out/in node counts per degree "
    "value; full SQL oracle over the same ETL semantics)",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import degree_distribution

    _, roads = _graph(spark)
    return degree_distribution(roads).orderBy("degree")


@q(
    "graph_k_hop",
    """
    WITH RECURSIVE el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    r(id, hops) AS (
      SELECT '2022', 0
      UNION ALL
      SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.id WHERE r.hops < 4
    )
    SELECT id AS NodeId, CAST(MIN(hops) AS BIGINT) AS hops
    FROM r GROUP BY id
    """,
    "4-hop ego neighborhood of node 2022 with minimum hop counts — layered-BFS "
    "frontier joins in the engine, recursive CTE as the SQL oracle",
)
def graph_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import k_hop_nodes

    _, roads = _graph(spark)
    return k_hop_nodes(spark, roads, "2022", 4).orderBy("hops", "NodeId")


@q(
    "graph_components",
    """
    WITH RECURSIVE el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    und AS (
      SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
    ),
    r(id, label) AS (
      SELECT a, a FROM und
      UNION
      SELECT u.b, r.label FROM r JOIN und u ON u.a = r.id
    )
    SELECT label_min AS component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM (SELECT id, MIN(label) AS label_min FROM r GROUP BY id)
    GROUP BY label_min
    """,
    "weakly connected components of the road graph (min-label canonical) — "
    "engine: distributed min-label propagation + pointer jumping "
    "(duplicate_clusters machinery); oracle: recursive-CTE label closure + "
    "MIN per node, aggregated to (component_id, n_nodes)",
)
def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import connected_components

    _, roads = _graph(spark)
    return (
        connected_components(roads)
        .groupBy("component_id")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("component_id")
    )


@q(
    "graph_pagerank",
    PIPELINE_GOLDEN_SQL["graph_pagerank"],
    "PageRank over the directed road multigraph (damping 0.85, 20 power "
    "iterations, uniform dangling redistribution), top-100 by (rank DESC, "
    "NodeId) — pinned-golden oracle from the independent pure-Python replay; "
    "6-dp rounding is the determinism contract (float-order wobble ~1e-13 "
    "vs the 1e-6 quantum)",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import pagerank

    _, roads = _graph(spark)
    return (
        pagerank(spark, roads)
        .orderBy(F.desc("rank"), F.asc("NodeId"))
        .limit(100)
    )


@q(
    "graph_ppr",
    PIPELINE_GOLDEN_SQL["graph_ppr"],
    "personalized PageRank / random walk with restart (Haveliwala 2002; "
    "GDS sourceNodes): teleport restricted to a hash-spread 4-seed set — "
    "restart and dangling mass return to the seeds, rank concentrates "
    "around them, unreachable nodes are exactly 0. Top-100 by (rank DESC, "
    "NodeId); pinned-golden oracle from the independent pure-Python "
    "power-iteration replay (6-dp rounding contract)",
)
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import personalized_pagerank

    _, roads = _graph(spark)
    seeds = [
        r["id"]
        for r in roads.select(F.col("src").alias("id"))
        .union(roads.select(F.col("dst").alias("id")))
        .distinct()
        .orderBy(F.xxhash64("id").asc(), F.col("id").asc())
        .limit(4)
        .collect()
    ]
    return (
        personalized_pagerank(spark, roads, seeds, projection=_graph_projection(spark))
        .orderBy(F.desc("rank"), F.asc("NodeId"))
        .limit(100)
    )


@q(
    "graph_eccentricity",
    PIPELINE_GOLDEN_SQL["graph_eccentricity"],
    "outbound eccentricity ecc(s) = max d(s,t) of the same 16-node "
    "hash-spread sample (exact per-source SSSP; the max over samples "
    "lower-bounds the directed diameter — the standard sampled-diameter "
    "estimate). Pinned-golden oracle: independent pure-Python Dijkstra "
    "replay",
)
def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.paths import eccentricity

    _, roads = _graph(spark)
    return eccentricity(spark, roads, n_sources=16, projection=_graph_projection(spark))


@q(
    "graph_eigenvector",
    PIPELINE_GOLDEN_SQL["graph_eigenvector"],
    "eigenvector centrality (Bonacich 1987; GDS eigenvector): power "
    "iteration x <- normalize2(A^T x), 20 fixed iterations, multigraph "
    "mass — the undamped sibling of pagerank. Top-100 by (rank DESC, "
    "NodeId); pinned-golden oracle from the independent pure-Python "
    "replay (6-dp rounding contract)",
)
def graph_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import eigenvector_centrality

    _, roads = _graph(spark)
    return (
        eigenvector_centrality(spark, roads, projection=_graph_projection(spark))
        .orderBy(F.desc("rank"), F.asc("NodeId"))
        .limit(100)
    )


@q(
    "graph_hits",
    PIPELINE_GOLDEN_SQL["graph_hits"],
    "HITS hubs & authorities (Kleinberg 1999): a <- normalize2(A^T h), "
    "h <- normalize2(A a), 20 fixed full update pairs from the all-ones "
    "start, multigraph mass — a node is a good authority when good hubs "
    "point at it and vice versa. Top-100 by (authority DESC, NodeId); "
    "pinned-golden oracle from the independent pure-Python replay (6-dp "
    "rounding contract)",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import hits

    _, roads = _graph(spark)
    return (
        hits(spark, roads, projection=_graph_projection(spark))
        .orderBy(F.desc("authority"), F.asc("NodeId"))
        .limit(100)
    )


@q(
    "graph_random_walks",
    PIPELINE_GOLDEN_SQL["graph_random_walks"],
    "deterministic uniform random-walk corpus (DeepWalk, Perozzi et al. "
    "2014) from a hash-spread 8-seed set, 2 walks x 8 steps: every "
    "transition is pmod(xxhash64('s|w|t|u'), outdeg) over id-sorted "
    "neighbors — all-integer, byte-identical across runs/layouts/engines; "
    "the graph-embedding training-corpus primitive. Pinned-golden oracle: "
    "independent pure-Python replay with the ported xxhash64",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import random_walks

    _, roads = _graph(spark)
    seeds = (
        roads.select(F.col("src").alias("id"))
        .union(roads.select(F.col("dst").alias("id")))
        .distinct()
        .orderBy(F.xxhash64("id").asc(), F.col("id").asc())
        .limit(8)
    )
    return random_walks(roads, walk_length=8, walks_per_node=2, seeds=seeds).orderBy(
        "seed", "walk_id", "step"
    )


@q(
    "graph_harmonic",
    PIPELINE_GOLDEN_SQL["graph_harmonic"],
    "outbound harmonic centrality of a 16-node hash-spread sample (exact "
    "per-source SSSP fanned out over executors; unreachable targets "
    "contribute 0 — the disconnected-graph-safe centrality). Pinned-golden "
    "oracle: independent pure-Python Dijkstra replay; distances replay "
    "exactly, the harmonic sum rounds to 6 dp",
)
def graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.paths import harmonic_centrality

    _, roads = _graph(spark)
    return harmonic_centrality(spark, roads, n_sources=16, projection=_graph_projection(spark))


@q(
    "graph_closeness",
    PIPELINE_GOLDEN_SQL["graph_closeness"],
    "outbound closeness centrality C(s) = n_reachable / sum(d) of the same "
    "16-node hash-spread sample (exact per-source SSSP over the broadcast "
    "projection; wf_correction=True applies the Wasserman-Faust "
    "disconnected-graph scaling). Pinned-golden oracle: independent "
    "pure-Python Dijkstra replay; distance sum rounds to 6 dp",
)
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.paths import closeness_centrality

    _, roads = _graph(spark)
    return closeness_centrality(spark, roads, n_sources=16, projection=_graph_projection(spark))


@q(
    "graph_label_propagation",
    PIPELINE_GOLDEN_SQL["graph_label_propagation"],
    "community detection by synchronous label propagation (10 rounds, "
    "most-frequent neighbor label, ties to smallest label — all-integer "
    "votes, so exactly reproducible), reported as the (community, n_nodes) "
    "histogram; pinned-golden oracle from the independent replay",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import label_propagation

    _, roads = _graph(spark)
    return (
        label_propagation(spark, roads)
        .groupBy("community")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("community")
    )


@q(
    "graph_betweenness",
    PIPELINE_GOLDEN_SQL["graph_betweenness"],
    "sampled betweenness centrality (Brandes 2001; 16 hash-spread sources, "
    "top-50 by dependency sum) — per-source deltas are bit-identical to the "
    "pure-Python replay via the pinned (-dist, NodeId) accumulation order; "
    "only the cross-source sum rounds at 6 dp (pinned-golden oracle)",
)
def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.paths import betweenness_centrality

    _, roads = _graph(spark)
    return betweenness_centrality(
        spark, roads, n_sources=16, k=50, projection=_graph_projection(spark)
    )


@q(
    "graph_scc",
    PIPELINE_GOLDEN_SQL["graph_scc"],
    "strongly connected components of the directed road multigraph, every "
    "node labelled with its SCC's min string id - broadcast tier runs "
    "iterative Tarjan in the driver over the CSR; past the edge "
    "limit the Forward-Backward coloring superstep loop. Pinned-golden "
    "oracle: an independent pure-Python KOSARAJU two-pass replay",
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import strongly_connected_components

    _, roads = _graph(spark)
    return strongly_connected_components(
        roads, projection=_graph_projection(spark)
    ).orderBy("NodeId")


@q(
    "graph_bridges",
    PIPELINE_GOLDEN_SQL["graph_bridges"],
    "bridges of the undirected road graph (Tarjan 1974 low-link, iterative "
    "kernel over the broadcast CSR): the physical roads whose removal "
    "disconnects their endpoints. A pair joined by >= 2 distinct road ids "
    "is never a bridge; a two-way road (both directed rows share one road "
    "id) is ONE physical edge. Pinned-golden oracle: independent "
    "BRUTE-FORCE replay (delete edge, BFS reachability — no low-link "
    "logic anywhere in the oracle)",
)
def graph_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import bridge_edges

    _, roads = _graph(spark)
    return bridge_edges(roads, projection=_graph_projection(spark)).orderBy("src", "dst")


@q(
    "graph_articulation",
    PIPELINE_GOLDEN_SQL["graph_articulation"],
    "articulation points of the undirected road graph (Tarjan 1974): the "
    "junctions whose removal disconnects the network. Pinned-golden "
    "oracle: independent BRUTE-FORCE replay (delete node, BFS between its "
    "neighbors)",
)
def graph_articulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import articulation_points

    _, roads = _graph(spark)
    return articulation_points(roads, projection=_graph_projection(spark)).orderBy("NodeId")


@q(
    "graph_kcore",
    PIPELINE_GOLDEN_SQL["graph_kcore"],
    "k-core decomposition of the undirected simple graph underlying the "
    "road multigraph (full per-node core map) - broadcast tier runs "
    "Batagelj-Zaversnik bucket peeling in the driver; past the "
    "edge limit the distributed h-index iteration (Montresor 2011). "
    "Pinned-golden oracle: an independent pure-Python min-degree-peeling "
    "replay with a work queue",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import core_decomposition

    _, roads = _graph(spark)
    return core_decomposition(
        spark, roads, projection=_graph_projection(spark)
    ).orderBy("NodeId")


@q(
    "graph_triangles",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e WHERE src <> dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    "global triangle count of the undirected simple road graph — wedge "
    "join + closure check in both engines (standard clustering-structure "
    "analytic the reference's GDS family ships)",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import triangle_count

    _, roads = _graph(spark)
    return triangle_count(roads)


@q(
    "graph_ingest_limit",
    """
    SELECT START_NODE, END_NODE, EDGE, CAST(LENGTH AS DOUBLE) AS LENGTH
    FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                  header = true, all_varchar = true)
    WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ORDER BY CAST(START_NODE AS BIGINT), CAST(EDGE AS BIGINT), END_NODE
    LIMIT 10
    """,
    "I8: sample-limited ingest (LIMIT 10 on the edge scan, deterministic order)",
)
def graph_ingest_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import read_edgelist

    el = read_edgelist(spark, SHENZHEN_CSV)
    return (
        el.select("START_NODE", "END_NODE", "EDGE", "LENGTH")
        .orderBy(
            F.col("START_NODE").cast("bigint"),
            F.col("EDGE").cast("bigint"),
            F.col("END_NODE"),
        )
        .limit(10)
    )


@q(
    "salted_agg_events",
    """
    SELECT event_type,
           ROUND(SUM(value), 2) AS total_value,
           CAST(COUNT(event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    "two-phase salted aggregation == plain groupBy (skew-guard operator, 5 hot keys)",
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = R.salted_agg(ev, ["event_type"], {"value": "sum", "event_id": "count"})
    return res.select(
        "event_type", F.round("value", 2).alias("total_value"), F.col("event_id").cast("bigint").alias("n")
    )


@q(
    "graph_sssp",
    GOLDEN_SQL["graph_sssp"],
    "G2 delta-stepping SSSP from node 2022 (2191 reachable; pinned-golden oracle "
    "from the independent pure-Python Dijkstra, tools/gen_graph_goldens.py)",
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import sssp

    _nodes, roads = _graph(spark)
    return sssp(spark, roads, "2022", projection=_graph_projection(spark)).select("NodeId", F.round("distance", 6).alias("distance"))


@q(
    "graph_sssp_slice",
    GOLDEN_SQL["graph_sssp_slice"],
    "G2 post-pipeline (neo4j-code.txt:54): ordered collect of SSSP distances, "
    "Cypher-style [2181..2191] slice, posexploded to scalar (pos, NodeId, "
    "distance) rows so the gate can hash-compare them",
)
def graph_sssp_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import sssp

    _nodes, roads = _graph(spark)
    d = sssp(spark, roads, "2022", projection=_graph_projection(spark))
    # The reference slices its 29930-node result near the tail; CSV1
    # reaches 2191 nodes so slice the matching tail window [2181..2191).
    return _sssp_window(d, 2181, 10)


def _sssp_window(d: DataFrame, start: int, length: int) -> DataFrame:
    """R6 ordered collect of an SSSP stream (explicit order: distance,
    then NodeId) + R7 0-based half-open slice ``[start, start +
    length)``. The slice window is then posexploded back to scalar
    (pos, NodeId, distance) rows: array columns can't be hash-compared
    by the driver's pandas canonicalizer."""
    pair = F.struct(F.col("distance"), F.col("NodeId"))
    collected = d.agg(F.sort_array(F.collect_list(pair)).alias("_p"))
    window = collected.select(R.array_slice(F.col("_p"), start, length).alias("_w"))
    return window.select(F.posexplode("_w").alias("pos", "s")).select(
        F.col("pos").cast("int").alias("pos"),
        F.col("s.NodeId").alias("NodeId"),
        F.round("s.distance", 6).alias("distance"),
    )


@q(
    "graph_dijkstra",
    GOLDEN_SQL["graph_dijkstra"],
    "G1 point-to-point Dijkstra 2022→2802 streamed path (66 rows; pinned-golden oracle)",
)
def graph_dijkstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import dijkstra

    _nodes, roads = _graph(spark)
    return dijkstra(spark, roads, "2022", "2802", projection=_graph_projection(spark)).select("NodeId", F.round("cost", 6).alias("cost"))


@q(
    "graph_dijkstra_agg",
    GOLDEN_SQL["graph_dijkstra_agg"],
    "G1 aggregate variant (neo4j-code.txt:19–36): PathNodeNumber + totalcost "
    "(goldens 66 / 9221.720431; rows-only gate, pytest pins the values)",
)
def graph_dijkstra_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import dijkstra
    from bigdata_foundation_spark.graph.paths import path_summary

    _nodes, roads = _graph(spark)
    stream = dijkstra(spark, roads, "2022", "2802", projection=_graph_projection(spark))
    return path_summary(stream).select(
        F.col("PathNodeNumber").cast("bigint").alias("PathNodeNumber"),
        F.round("totalcost", 6).alias("totalcost"),
    )


@q(
    "graph_astar",
    GOLDEN_SQL["graph_astar"],
    "G4 A* 2022→2802 (admissible heuristic — equals Dijkstra; pinned-golden oracle)",
)
def graph_astar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import astar

    nodes, roads = _graph(spark)
    return astar(spark, roads, nodes, "2022", "2802", projection=_graph_projection(spark)).select("NodeId", F.round("cost", 6).alias("cost"))


@q(
    "graph_yens_k3",
    GOLDEN_SQL["graph_yens_k3"],
    "G5 Yen k=3 2022→2802: (index, path length, totalCost) (pinned-golden oracle "
    "from an independent Yen implementation)",
)
def graph_yens_k3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import yens_k

    _nodes, roads = _graph(spark)
    res = yens_k(spark, roads, "2022", "2802", k=3, projection=_graph_projection(spark))
    return res.select(
        "index",
        F.size("nodeIds").cast("bigint").alias("path_len"),
        F.round("totalCost", 6).alias("totalCost"),
    )


@q(
    "graph_writeback",
    GOLDEN_SQL["graph_writeback"],
    "I12 writeProperty: join SSSP result back onto nodes; unreachable → -1.0 "
    "sentinel (pinned-golden oracle)",
)
def graph_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import sssp
    from bigdata_foundation_spark.graph.paths import write_back

    nodes, roads = _graph(spark)
    res = sssp(spark, roads, "2022", projection=_graph_projection(spark))
    return write_back(nodes, res).select(
        "NodeId", F.round(F.coalesce("sssp", F.lit(-1.0)), 6).alias("sssp")
    )


@q(
    "graph_yens_postprocess",
    GOLDEN_SQL["graph_yens_postprocess"],
    "G5 + R8/R9: list comprehension over nodeIds and reduce-sum of costs (neo4j-code.txt:143–145)",
)
def graph_yens_postprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import yens_k

    _nodes, roads = _graph(spark)
    res = yens_k(spark, roads, "2022", "2802", k=3, projection=_graph_projection(spark))
    # The reference's post-pipeline: places = [node IN asNodes(nodeIds)
    # | node.NodeId] (R8/transform); totalCost = reduce(acc+cost)
    # (R9/aggregate). Scalars out so the shapes stay hash-comparable.
    places = R.array_map(F.col("nodeIds"), lambda n: F.concat(F.lit("node:"), n))
    return res.select(
        "index",
        F.size(places).cast("bigint").alias("n_places"),
        F.round(R.array_reduce_sum(F.col("costs")), 6).alias("reduce_total"),
        F.round("totalCost", 6).alias("totalCost"),
        (F.size("nodeIds") == F.size("costs") + 1).alias("lengths_consistent"),
    )


@q(
    "graph_apsp_top10",
    GOLDEN_SQL["graph_apsp_top10"],
    "G3 APSP 10 longest finite shortest paths (pinned-golden oracle, all-source "
    "independent Dijkstra sweep)",
)
def graph_apsp_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph import apsp_topk

    _nodes, roads = _graph(spark)
    return apsp_topk(spark, roads, k=10, projection=_graph_projection(spark)).select(
        "source", "target", F.round("distance", 6).alias("distance")
    )


# ===========================================================================
# TPC-H completion: the remaining query shapes (Q2/Q7/Q8/Q9/Q11/Q16/Q18/
# Q20/Q21). The testdata star schema has no partsupp table, so supply
# cost is proxied by MIN(l_extendedprice / l_quantity) per (part,
# supplier) and availability by shipped quantity — the plan shapes
# (correlated min, nation-pair join, market-share ratio, scalar-subquery
# HAVING, NOT IN, nested IN, EXISTS/NOT EXISTS) are preserved.
# ===========================================================================

@q(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, ROUND(unit_cost, 6) AS unit_cost
    FROM part, cost, eu
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey AND p_type = 'LARGE'
      AND unit_cost = (SELECT MIN(c2.unit_cost) FROM cost c2
                       JOIN eu e2 ON e2.s_suppkey = c2.l_suppkey
                       WHERE c2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
    "TPC-H Q2 shape: per-part correlated MIN subquery, decorrelated to a window min",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    # Decorrelate the per-part MIN over European suppliers with a window
    # (one shuffle on l_partkey; no self-join re-scan of lineitem).
    eu_cost = cost.join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey)
    w = Window.partitionBy("l_partkey")
    best = eu_cost.withColumn("_min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("_min_cost")
    )
    out = best.join(F.broadcast(p), best.l_partkey == p.p_partkey).select(
        "s_acctbal", "s_name", "n_name", "p_partkey",
        F.round("unit_cost", 6).alias("unit_cost"),
    )
    return R.topk(out, [F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")], 100)


@q(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 shape: bidirectional nation-pair volume by ship year",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = {"NATION_1", "NATION_2"}
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    # Filter BOTH dimension sides to the two nations before touching the
    # fact tables — the selective predicate prunes most of lineitem via
    # the (broadcast) supplier join instead of after a full 4-way join.
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year")
    ).agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


@q(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) all_nations GROUP BY o_year
    """,
    "TPC-H Q8 shape: conditional-sum market-share ratio per order year",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # customers restricted to the ASIA region (dimension-side pruning)
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = (
        s.join(F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
               F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey, "left_semi")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0))) / F.sum(vol), 6
        ).alias("mkt_share")
    )


@q(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(ROUND(SUM(profit), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity
                  AS DECIMAL(18,4)) AS profit
      FROM part JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit GROUP BY nation, o_year
    """,
    "TPC-H Q9 shape: profit by supplier nation and year (supply cost proxied by 10% of retail price — no partsupp table)",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    # Cancellation (revenue minus cost) makes a double sum order-
    # sensitive at the cent level; summing exact DECIMAL(18,4) in both
    # engines removes the dependence on partial-aggregation order. The
    # final cent-round must ALSO happen in decimal: rounding after a
    # cast to double diverges on exact .xx5 sums (Spark's round(double)
    # goes through the shortest decimal repr and rounds "….665" up;
    # DuckDB rounds the binary value ….66499999… down — sf0.001's
    # NATION_13/2001 group hit exactly this).
    return joined.groupBy(
        "nation", F.year("o_orderdate").cast("bigint").alias("o_year")
    ).agg(F.round(F.sum(profit.cast("decimal(18,4)")), 2).cast("double").alias("sum_profit"))


@q(
    "q11_important_stock",
    """
    WITH v AS (
      SELECT l_partkey, SUM(l_extendedprice) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5' GROUP BY l_partkey)
    SELECT l_partkey, ROUND(value, 2) AS value
    FROM v WHERE value > (SELECT 0.0015 * SUM(value) FROM v)
    """,
    "TPC-H Q11 shape: scalar-subquery fraction-of-total HAVING (stock value proxied by shipped extended price — no partsupp table)",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )
    v = li.groupBy("l_partkey").agg(F.sum("l_extendedprice").alias("value"))
    thr = v.agg((F.lit(0.0015) * F.sum("value")).alias("_thr"))
    return (
        v.join(F.broadcast(thr))
        .filter(F.col("value") > F.col("_thr"))
        .select("l_partkey", F.round("value", 2).alias("value"))
    )


@q(
    "q16_supplier_part_count",
    """
    SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    "TPC-H Q16 shape: NOT-IN anti-join + COUNT DISTINCT by part attributes (complaint filter proxied by negative balance)",
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@q(
    "q18_large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_totalprice, ROUND(SUM(l_quantity), 2) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 210)
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    "TPC-H Q18 shape: IN over grouped-HAVING subquery, top-100 by price",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    big = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("_qty")).filter(
        F.col("_qty") > 210
    ).select("l_orderkey")
    o = _t(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )
    return R.topk(agg, [F.desc("o_totalprice"), F.asc("o_orderkey")], 100)


@q(
    "q20_excess_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_7' AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 40)
    """,
    "TPC-H Q20 shape: nested IN subqueries (name-prefix part set, per-part shipped-quantity HAVING)",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    qual = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(qual), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@q(
    "q21_waiting_suppliers",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n_name = 'NATION_4'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
    "TPC-H Q21 shape: correlated EXISTS semi-join + NOT EXISTS anti-join self-joins (late-delivery marker proxied by returnflag R)",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "left_semi")
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(F.col("l_orderkey").alias("_okey"), F.col("l_suppkey").alias("_skey"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("_okey"), F.col("l_suppkey").alias("_skey")
    )
    exists_cond = (F.col("l_orderkey") == F.col("_okey")) & (F.col("l_suppkey") != F.col("_skey"))
    waited = l1.join(l2, exists_cond, "left_semi").join(l3, exists_cond, "left_anti")
    return waited.groupBy("s_name").agg(F.count("*").cast("bigint").alias("numwait"))


# ===========================================================================
# Training-data pipeline: chunking, normalization, grouping sets
# ===========================================================================

@q(
    "chunk_documents",
    """
    SELECT doc_id,
           (start - 1) // 150 AS chunk_id,
           substr(text, CAST(start AS INTEGER), 200) AS chunk_text,
           CAST(length(substr(text, CAST(start AS INTEGER), 200)) AS BIGINT) AS chunk_len
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text), 1), 150)) AS start
          FROM documents)
    """,
    "LLM-pipeline document chunking: 200-char windows, 50-char overlap (JVM sequence+posexplode, zero shuffle)",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.chunk_documents(_docs(spark, sf_dir), size=200, overlap=50)


@q(
    "normalize_documents",
    """
    SELECT doc_id,
           trim(regexp_replace(nfc_normalize(lower(text)), '\\s+', ' ', 'g')) AS norm_text
    FROM documents
    """,
    "Unicode NFC + lowercase + whitespace-collapse normalization (Arrow-batched pandas UDF; DuckDB nfc_normalize oracle)",
)
def normalize_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.normalize_text(_docs(spark, sf_dir)).select("doc_id", F.col("norm_text"))


_GROUPING_SETS_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT)   AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(COUNT(*) AS BIGINT)                  AS n,
           ROUND(SUM(o_totalprice), 2)               AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@q(
    "grouping_sets_orders",
    _GROUPING_SETS_SQL,
    "explicit GROUPING SETS with GROUPING() subtotal markers — the ORACLE TEXT runs on both engines",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


@q(
    "streaming_upsert_sink",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    "foreachBatch MERGE-upsert sink: stream events into a parquet table keyed by event_id, "
    "then aggregate the final table (event_ids unique -> equals a direct aggregate)",
)
def streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.streaming import read_events_stream
    from bigdata_foundation_spark.streaming.sinks import foreach_batch_upsert

    target = tempfile.mkdtemp(prefix="q_upsert_sink_") + "/events"
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    foreach_batch_upsert(ev, target, ["event_id"], batch_shuffle_partitions=8)
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@q(
    "streaming_snapshot_sink",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    "foreachBatch VERSIONED-SNAPSHOT sink (r12 - the streaming writer "
    "of the time-travel layer): stream events as per-micro-batch "
    "append commits into a FRESH table (ephemeral-checkpoint mode - "
    "with a persistent checkpoint the sink commits with commit_id = "
    "batch id so foreachBatch retries are no-ops; pytest covers that "
    "contract), then aggregate the HEAD snapshot through its "
    "manifest; equals a direct aggregate of the source iff no batch "
    "was dropped or double-committed. Full SQL oracle",
)
def streaming_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version
    from bigdata_foundation_spark.streaming import read_events_stream
    from bigdata_foundation_spark.streaming.sinks import foreach_batch_snapshot

    target = tempfile.mkdtemp(prefix="q_snapshot_sink_") + "/events"
    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    foreach_batch_snapshot(ev, target, batch_shuffle_partitions=8)
    return (
        read_at_version(spark, target)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@q(
    "streaming_source_tail",
    """
    SELECT CAST(o_orderkey % 6 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    "snapshot table as a STREAMING SOURCE (r14 - "
    "streaming.source.SnapshotDataSource, Spark 4 Python DataSource "
    "API): orders is committed as three append versions, then a "
    "stream TAILS the table - manifest versions are the offsets, "
    "batch planning is a driver-side manifest diff (no listing), and "
    "each new file is one task yielding Arrow batches. The streamed "
    "rows land in a parquet sink and re-aggregate to exactly the "
    "source table iff no commit was dropped, split, or double-"
    "emitted. Exactly-once resume, rewrite rejection, and evolution "
    "null-fill are pinned in pytest. Full SQL oracle",
)
def streaming_source_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark import io as bio
    from bigdata_foundation_spark.streaming.source import register_snapshot_source

    register_snapshot_source(spark)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    tdir = tempfile.mkdtemp(prefix="q_snapshot_src_")
    bio.write_snapshot(
        orders.filter(k % 3 == 0).coalesce(1), tdir, mode="overwrite", commit_id="t1"
    )
    bio.write_snapshot(
        orders.filter(k % 3 == 1).coalesce(1), tdir, mode="append", commit_id="t2"
    )
    bio.write_snapshot(
        orders.filter(k % 3 == 2).coalesce(1), tdir, mode="append", commit_id="t3"
    )
    out = tempfile.mkdtemp(prefix="q_snapshot_src_out_") + "/rows"
    ckpt = tempfile.mkdtemp(prefix="q_snapshot_src_ckpt_")
    q_ = (
        spark.readStream.format("snapshot_table")
        .option("path", tdir)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy((k % 6).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@q(
    "streaming_change_feed",
    """
    WITH base AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    upd AS (SELECT k, p + 700.0 AS p FROM base WHERE k % 30 = 0),
    ins AS (SELECT k + 400000000 AS k, 1.0 AS p FROM base WHERE k % 150 = 0),
    merged AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins
    ),
    changes AS (
      SELECT 2 AS v, 'update_postimage' AS t, k, p FROM upd
      UNION ALL SELECT 2, 'insert', k, p FROM ins
      UNION ALL SELECT 3, 'delete', k, p FROM merged WHERE p > 450000.0
    )
    SELECT CAST(v AS INT) AS commit_version, t AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(p), 2) AS total
    FROM changes GROUP BY 1, 2
    """,
    "STREAMING change feed (r15 - streaming.source readChangeFeed "
    "mode, r14 verdict task 3): orders is committed, then a merge "
    "(update every 30th key, insert new keys) and a delete commit "
    "land, and a snapshot_table stream with readChangeFeed=true "
    "emits each commit's typed (insert / update_postimage / delete) "
    "rows - the executor-side file-granular diff twin of the batch "
    "io.read_version_changes, planned per commit from manifest "
    "diffs. The streamed change rows land in a parquet sink and "
    "re-aggregate per (commit, type); the oracle re-derives the "
    "exact change set from the base table, so a phantom change, a "
    "missed delete, a misclassified update, or a double-emitted "
    "commit breaks the value match. Restart exactly-once and the "
    "overwrite refusal are pinned in pytest. Full SQL oracle",
)
def streaming_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark import io as bio
    from bigdata_foundation_spark.streaming.source import register_snapshot_source

    register_snapshot_source(spark)
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p")
    )
    k = F.col("k")
    tdir = tempfile.mkdtemp(prefix="q_stream_cdf_")
    v1 = bio.write_snapshot(
        orders.repartitionByRange(8, k), tdir, mode="overwrite", commit_id="c1"
    )
    updates = (
        orders.filter(k % 30 == 0)
        .withColumn("p", F.col("p") + 700.0)
        .unionByName(
            orders.filter(k % 150 == 0).select(
                (k + 400000000).alias("k"), F.lit(1.0).alias("p")
            )
        )
    )
    bio.snapshot_merge(spark, tdir, updates, ["k"], commit_id="c2")
    bio.snapshot_delete(
        spark, tdir, F.col("p") > 450000.0, prune=[("p", 450000.0, None)],
        commit_id="c3",
    )
    out = tempfile.mkdtemp(prefix="q_stream_cdf_out_") + "/rows"
    ckpt = tempfile.mkdtemp(prefix="q_stream_cdf_ckpt_")
    q_ = (
        spark.readStream.format("snapshot_table")
        .option("path", tdir)
        .option("readChangeFeed", "true")
        .option("keyCols", "k")
        .option("startingVersion", str(v1 + 1))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q_.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy(
            F.col("_commit_version").cast("int").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("p"), 2).alias("total"),
        )
    )


@q(
    "streaming_merge_sink",
    """
    WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
    upd AS (
      SELECT o_orderkey, o_totalprice + 500.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 200000000, 1.0 FROM orders WHERE o_orderkey % 50 = 0
    ),
    merged AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL
      SELECT * FROM upd
    )
    SELECT CAST(o_orderkey % 5 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM merged GROUP BY 1
    """,
    "streaming CDC-apply sink (r13 - "
    "streaming.sinks.foreach_batch_snapshot_merge): an update feed "
    "(modified totals + new keys, split into key-disjoint files "
    "replayed one file per micro-batch) MERGEs batch-by-batch into "
    "the versioned snapshot table with file-granular copy-on-write - "
    "each batch rewrites only the files holding its matched keys. "
    "Key-disjoint batches make the end state independent of batch "
    "order; the oracle re-derives the merged state from the base "
    "table, so a lost update, duplicate, or dropped file breaks the "
    "value match. Full SQL oracle",
)
def streaming_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.io import read_at_version, write_snapshot
    from bigdata_foundation_spark.streaming.sinks import foreach_batch_snapshot_merge

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    scratch = tempfile.mkdtemp(prefix="q_stream_merge_")
    tdir = scratch + "/table"
    write_snapshot(
        orders.repartitionByRange(8, k), tdir, mode="overwrite", commit_id="b0"
    )
    updates = (
        orders.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 500.0)
        .unionByName(
            orders.filter(k % 50 == 0).select(
                (k + 200000000).alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
            )
        )
    )
    feed = scratch + "/feed"
    updates.repartitionByRange(3, k).write.parquet(feed)
    stream = (
        spark.readStream.schema(updates.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    foreach_batch_snapshot_merge(
        stream, tdir, ["o_orderkey"], batch_shuffle_partitions=8
    )
    return (
        read_at_version(spark, tdir)
        .groupBy((k % 5).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@q(
    "rfm_segmentation",
    r"""
    WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(o_orderdate), anchor.a) AS INT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(o_totalprice) AS m
      FROM orders CROSS JOIN anchor GROUP BY o_custkey, anchor.a
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, m,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC) AS INT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS INT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY m ASC, o_custkey ASC) AS INT) AS m_score
      FROM base
    )
    SELECT o_custkey, recency_days, frequency, ROUND(m, 2) AS monetary,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
    FROM scored ORDER BY o_custkey
    """,
    "RFM customer segmentation: one per-key agg + broadcast anchor + "
    "three deterministic ntile quintile windows (5 = best); at billions "
    "of customers the exact ntile swaps for approx_percentile "
    "boundaries applied scan-side (full SQL oracle)",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rfm_segmentation(_t(spark, sf_dir, "orders"))


@q(
    "funnel_stages",
    r"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY e.user_id
    ),
    s4 AS (
      SELECT e.user_id, MIN(e.ts) AS t4 FROM events e JOIN s3 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY e.user_id
    )
    SELECT k.user_id, s1.t1, s2.t2, s3.t3, s4.t4,
           CAST((CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN s4.t4 IS NULL THEN 0 ELSE 1 END) AS INT) AS stage
    FROM (SELECT DISTINCT user_id FROM events) k
    LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id) LEFT JOIN s4 USING (user_id)
    ORDER BY user_id
    """,
    "4-step ordered funnel (signup > view > click > purchase, strict "
    "first-touch ordering): chained conditional-min joins of (key, ts) "
    "pairs — never a window over raw events (full SQL oracle)",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.funnel_stages(ev, ["signup", "view", "click", "purchase"])


@q(
    "retention_cohorts",
    r"""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    cohorts AS (SELECT user_id, MIN(d) AS c FROM days GROUP BY user_id),
    weekly AS (
      SELECT DISTINCT days.user_id, c,
             CAST(FLOOR(date_diff('day', c, d) / 7.0) AS INT) AS week_offset
      FROM days JOIN cohorts USING (user_id)
    )
    SELECT strftime(c, '%Y-%m-%d') AS cohort_date, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM weekly GROUP BY c, week_offset ORDER BY cohort_date, week_offset
    """,
    "weekly retention cohorts by first-activity date: two map-side "
    "combined aggs + one keyed join, day-integer arithmetic (full SQL "
    "oracle)",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.retention_cohorts(ev)


@q(
    "sessionize_events",
    r"""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sid AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS s
      FROM marked
    )
    SELECT user_id, CAST(s AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM sid GROUP BY user_id, s
    """,
    "batch gap-based sessionization (30-min gap, the batch twin of the "
    "streaming session_window): lag-mark + running-sum numbering + one "
    "per-session aggregate, exact integer-microsecond gap arithmetic — "
    "one keyed shuffle end to end (full SQL oracle)",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.sessionize(
        ev, key_col="user_id", ts_col="ts", tiebreak_col="event_id",
        gap_minutes=30, value_col="value",
    )


@q(
    "streaming_scd2",
    r"""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_id) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1
                  WHEN event_type IS NOT DISTINCT FROM
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                  THEN 0 ELSE 1 END AS chg
      FROM events
    ),
    ver AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS UNBOUNDED PRECEDING) AS v
      FROM marked
    ),
    versions AS (
      SELECT user_id, v, MIN(event_type) AS event_type, MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ver GROUP BY user_id, v
    )
    SELECT user_id, event_type, CAST(v AS BIGINT) AS version, valid_from,
           COALESCE(lead(valid_from) OVER (PARTITION BY user_id ORDER BY v),
                    TIMESTAMP '2261-12-31 00:00:00') AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY v) IS NULL AS is_current
    FROM versions
    """,
    "INCREMENTAL SCD2 maintenance from a changelog stream (foreachBatch "
    "stitch: extend-or-close the open version, renumber and append the "
    "batch's runs, pass closed history through) — the events replayed as "
    "a 2-file time-split stream, one micro-batch per file; the oracle is "
    "the BATCH derivation, so the gate asserts stream == batch "
    "row-for-row",
)
def streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from bigdata_foundation_spark.streaming.sinks import foreach_batch_scd2

    ev = _t(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="q_scd2_stream_")
    src = os.path.join(base, "src")
    n = ev.count()
    cut = (
        ev.orderBy("ts", "event_id").limit(n // 2).agg(F.max("ts").alias("m")).head()["m"]
    )
    for i, part in enumerate(
        (ev.filter(F.col("ts") <= F.lit(cut)), ev.filter(F.col("ts") > F.lit(cut)))
    ):
        d = os.path.join(base, f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        os.makedirs(src, exist_ok=True)
        fn = next(f for f in sorted(os.listdir(d)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.replace(os.path.join(d, fn), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    es = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1").parquet(src)
    target = os.path.join(base, "dim")
    # micro-batch shuffle width sized to the CDC batch (two half-corpus
    # batches at gate scale), not the session's corpus width — the
    # documented _batch_shuffle knob; values are width-invariant
    # (partition-invariance pinned by the stream≡batch tests)
    foreach_batch_scd2(
        es, target, "user_id", "event_type", "ts", "event_id",
        batch_shuffle_partitions=8,
    )
    return spark.read.parquet(target)


@q(
    "streaming_corpus_dedup",
    PIPELINE_GOLDEN_SQL["streaming_corpus_dedup"],
    "greedy streaming corpus ingest: the sf0.01 documents processed as two "
    "batches (doc_id parity) through process_corpus_batch — within-batch "
    "exact + MinHash-LSH cluster dedup, cross-batch rejection via the "
    "persisted incremental index (union-size bucket cap), survivors appended "
    "to corpus + index; result = final accepted doc_ids. Pinned-golden "
    "oracle from the independent pure-Python greedy replay "
    "(tools/gen_pipeline_goldens.py corpus_stream_golden)",
)
def streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from bigdata_foundation_spark.streaming.corpus import process_corpus_batch

    root = tempfile.mkdtemp(prefix="q_corpus_dedup_")
    idx, corp = root + "/index", root + "/corpus"
    d = _t(spark, sf_dir, "documents")
    for bi in range(2):
        process_corpus_batch(
            spark, d.filter(F.col("doc_id") % 2 == bi), idx, corp, threshold=0.5
        )
    return spark.read.parquet(corp).select("doc_id").orderBy("doc_id")


@q(
    "streaming_interval_join",
    """
    SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
           ROUND(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "stream-stream interval join (click->purchase within 30 min, watermark-bounded state); "
    "oracle = the batch interval join (stream==batch equivalence)",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.streaming import (
        click_purchase_interval_join,
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(click_purchase_interval_join(ev), "q_streaming_ij", spark)


@q(
    "dedup_cluster_canonical",
    r"""
    WITH RECURSIVE g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')
             )) AS grams
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split_regex(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '), t -> t <> '') AS toks
        FROM documents) raw
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / greatest(len(list_distinct(a.grams || b.grams)), 1) >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b AS a, id_a AS b FROM p
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    lab AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM lab GROUP BY cluster_id)
    SELECT l.doc_id, l.cluster_id, s.cluster_size,
           l.doc_id = l.cluster_id AS is_canonical
    FROM lab l JOIN sz s USING (cluster_id)
    """,
    "near-dup pairs (exact 3-gram Jaccard >= 0.3) -> connected components -> "
    "keep-min-id-per-cluster policy; oracle = recursive-CTE transitive closure",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.3, block_cols=["lang"])
    clusters = D.duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        clusters.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


@q(
    "dedup_cluster_keep_best",
    r"""
    WITH RECURSIVE g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 1)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' ')
             )) AS grams
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split_regex(regexp_replace(lower(text), '\s+', ' ', 'g'), ' '), t -> t <> '') AS toks
        FROM documents) raw
    ),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / greatest(len(list_distinct(a.grams || b.grams)), 1) >= 0.3
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION
      SELECT id_b AS a, id_a AS b FROM p
    ),
    reach(src, node) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    lab AS (SELECT src AS doc_id, MIN(node) AS cluster_id FROM reach GROUP BY src),
    best AS (
      SELECT l.doc_id, l.cluster_id, d.n_chars,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY d.n_chars DESC, l.doc_id ASC) AS rk
      FROM lab l JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
           rk = 1 AS is_canonical
    FROM best
    """,
    "keep-BEST cluster canonicalization (production policy: keep the longest/"
    "highest-quality duplicate, ties -> min id) over the same near-dup "
    "clusters; oracle = recursive-CTE closure + per-cluster arg-max window",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.3, block_cols=["lang"])
    clusters = D.duplicate_clusters(pairs)
    return D.cluster_keep_best(
        clusters, d.select("doc_id", F.col("n_chars")), id_col="doc_id", score_col="n_chars"
    ).orderBy("doc_id")


@q(
    "events_gapfill",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    hours AS (
      SELECT unnest(generate_series((SELECT MIN(date_trunc('hour', ts)) FROM events),
                                    (SELECT MAX(date_trunc('hour', ts)) FROM events),
                                    INTERVAL 1 HOUR)) AS h),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT t.event_type, strftime(h.h, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(b.n_events, 0) AS n_events
    FROM hours h CROSS JOIN types t
    LEFT JOIN b ON b.h = h.h AND b.event_type = t.event_type
    """,
    "time-series resample/gap-fill: dense hourly grid (sequence+explode) x event types, "
    "zero-filled — the feed-health shape a pipeline dashboard runs",
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    # Both grid dims are tiny (hours x 5 types) — broadcast keeps the
    # left join shuffle-free on the big aggregated side.
    grid = F.broadcast(hours).crossJoin(F.broadcast(types))
    return grid.join(hourly, ["h", "event_type"], "left").select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
    )


@q(
    "profile_orders",
    """
    WITH a AS (
      SELECT COUNT(*) AS n,
             COUNT(o_custkey)    AS nn1, COUNT(DISTINCT o_custkey)    AS nd1,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn1, CAST(MAX(o_custkey) AS VARCHAR) AS mx1,
             COUNT(o_orderstatus) AS nn2, COUNT(DISTINCT o_orderstatus) AS nd2,
             MIN(o_orderstatus) AS mn2, MAX(o_orderstatus) AS mx2,
             COUNT(o_totalprice) AS nn3, COUNT(DISTINCT o_totalprice) AS nd3,
             CAST(MIN(ROUND(o_totalprice, 2)) AS VARCHAR) AS mn3,
             CAST(MAX(ROUND(o_totalprice, 2)) AS VARCHAR) AS mx3,
             COUNT(o_orderdate) AS nn4, COUNT(DISTINCT o_orderdate) AS nd4,
             strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mn4,
             strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS mx4
      FROM orders)
    SELECT 'o_custkey' AS col_name, CAST(n AS BIGINT) AS n_rows,
           CAST(n - nn1 AS BIGINT) AS n_null, CAST(nd1 AS BIGINT) AS n_distinct,
           mn1 AS min_s, mx1 AS max_s FROM a
    UNION ALL
    SELECT 'o_orderstatus', n, n - nn2, nd2, mn2, mx2 FROM a
    UNION ALL
    SELECT 'o_totalprice', n, n - nn3, nd3, mn3, mx3 FROM a
    UNION ALL
    SELECT 'o_orderdate', n, n - nn4, nd4, mn4, mx4 FROM a
    """,
    "one-pass multi-column data profiling (nulls / exact distinct / min / max) — "
    "the ingest-audit shape; N distinct aggregates compile to one Expand scan, "
    "not N table scans",
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return R.profile_columns(
        o, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    )


@q(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority
      FROM orders WHERE o_orderkey % 10 <> 0),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                ELSE 'changed' END AS change_type,
           o.o_orderstatus   AS old_o_orderstatus,
           o.o_orderpriority AS old_o_orderpriority,
           n.o_orderstatus   AS new_o_orderstatus,
           n.o_orderpriority AS new_o_orderpriority
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus   IS DISTINCT FROM n.o_orderstatus
       OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
    """,
    "CDC-style snapshot diff: full-outer join on the key, classify "
    "added/deleted/changed with null-safe comparison, drop unchanged — "
    "one key-partitioned shuffle (shuffle-free when both snapshots are "
    "bucketed on the key)",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 != 0)
    new = o.filter(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    return R.snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "o_orderpriority"]
    )


@q(
    "scd2_user_history",
    r"""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_id) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                  THEN 1
                  WHEN event_type IS NOT DISTINCT FROM
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                  THEN 0 ELSE 1 END AS chg
      FROM events
    ),
    ver AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                               ROWS UNBOUNDED PRECEDING) AS v
      FROM marked
    ),
    versions AS (
      SELECT user_id, v, MIN(event_type) AS event_type, MIN(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ver GROUP BY user_id, v
    )
    SELECT user_id, event_type, CAST(v AS BIGINT) AS version, valid_from,
           COALESCE(lead(valid_from) OVER (PARTITION BY user_id ORDER BY v),
                    TIMESTAMP '2261-12-31 00:00:00') AS valid_to,
           n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY v) IS NULL AS is_current
    FROM versions
    """,
    "changelog to SCD Type-2 dimension (Kimball): per-user validity "
    "intervals of the tracked attribute, new version only on change, "
    "valid_to = next version's start (2261-12-31 sentinel while current) — one keyed "
    "shuffle, every window reuses it (full SQL oracle)",
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.scd2_history(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts", tiebreak_col="event_id"
    )


# ===========================================================================
# Round 7: MSF / communities / similarity-structure graph analytics +
# first-class k-means
# ===========================================================================


@q(
    "graph_msf",
    PIPELINE_GOLDEN_SQL["graph_msf"],
    "minimum spanning forest (Boruvka 1926) of the undirected simple "
    "weighted road graph (GDS spanningTree family) - unique under the "
    "strict total order (cost, src, dst); broadcast tier runs vectorized "
    "Boruvka over the CSR, past the edge limit distributed Boruvka "
    "(min_by pick + FastSV root merge per round). Pinned-golden oracle: "
    "an independent KRUSKAL union-find replay",
)
def graph_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import minimum_spanning_forest

    _, roads = _graph(spark)
    return minimum_spanning_forest(
        roads, projection=_graph_projection(spark)
    ).orderBy("src", "dst")


@q(
    "graph_louvain",
    PIPELINE_GOLDEN_SQL["graph_louvain"],
    "Louvain community detection (Blondel et al. 2008, the GDS flagship "
    "community algorithm) on the unit-weight undirected simple road "
    "graph - deterministic sweep order and tie-breaks, min-member "
    "community labels; kernel tier only (order-dependent sweeps have no "
    "faithful superstep twin - label_propagation is the distributed "
    "path). Pinned-golden oracle: independent replay of the pinned "
    "contract with edge-list bookkeeping",
)
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import louvain

    _, roads = _graph(spark)
    return louvain(roads, projection=_graph_projection(spark)).orderBy("NodeId")


@q(
    "graph_modularity",
    PIPELINE_GOLDEN_SQL["graph_modularity"],
    "Newman-Girvan modularity Q of the label-propagation communities "
    "over the undirected simple road graph (gds.modularity): Q = "
    "sum_c(m_c/m - (d_c/2m)^2), one (n_communities, modularity) row - "
    "the quality functional scoring any distributed community "
    "assignment. Pinned-golden oracle: integer LPA replay + pure-Python "
    "modularity arithmetic",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import label_propagation, modularity

    _, roads = _graph(spark)
    comms = label_propagation(
        spark, roads, projection=_graph_projection(spark)
    )
    return modularity(roads, comms)


@q(
    "graph_node_similarity",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
      WHERE el.START_NODE <> el.END_NODE
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
    inter AS (
      SELECT a.src AS node1, b.src AS node2, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
      GROUP BY a.src, b.src
    )
    SELECT node1, node2, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / CAST(d1.d + d2.d - n_common AS DOUBLE)
             AS jaccard
    FROM inter
    JOIN deg d1 ON d1.src = node1
    JOIN deg d2 ON d2.src = node2
    ORDER BY jaccard DESC, node1, node2
    LIMIT 100
    """,
    "GDS nodeSimilarity: top-100 junction pairs by Jaccard similarity of "
    "out-neighbour sets over the directed simple road graph - keyed "
    "shared-neighbour self-join, never an all-pairs product; jaccard is "
    "the exact IEEE quotient (full SQL oracle, same joins in DuckDB)",
)
def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import node_similarity

    _, roads = _graph(spark)
    return node_similarity(roads, k=100).withColumn(
        "n_common", F.col("n_common").cast("bigint")
    )


@q(
    "graph_clustering_coeff",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e WHERE src <> dst
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    tri AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tpn AS (
      SELECT v, COUNT(*) AS t FROM (
        SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
        UNION ALL SELECT c AS v FROM tri
      ) GROUP BY v
    ),
    loc AS (
      SELECT 2.0 * COALESCE(t, 0) / (CAST(d AS DOUBLE) * (d - 1)) AS cc
      FROM deg LEFT JOIN tpn ON deg.v = tpn.v WHERE d >= 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
           (SELECT CAST(SUM(CAST(d AS BIGINT) * (d - 1)) / 2 AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT CASE WHEN SUM(CAST(d AS BIGINT) * (d - 1)) / 2 > 0
                   THEN 3.0 * (SELECT COUNT(*) FROM tri)
                        / CAST(SUM(CAST(d AS BIGINT) * (d - 1)) / 2 AS DOUBLE)
                   ELSE 0.0 END FROM deg) AS transitivity,
           (SELECT AVG(cc) FROM loc) AS avg_local_cc
    """,
    "clustering structure of the undirected simple road graph in one "
    "row: triangle count, wedge count, global transitivity (Newman "
    "2003) and the Watts-Strogatz 1998 mean local clustering "
    "coefficient over deg>=2 nodes (full SQL oracle - same oriented "
    "wedge join in DuckDB)",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import clustering_coefficient

    _, roads = _graph(spark)
    return clustering_coefficient(roads)


@q(
    "embedding_kmeans",
    PIPELINE_GOLDEN_SQL["embedding_kmeans"],
    "first-class spherical k-means over the embeddings table (the "
    "curation primitive behind SemDeDup / cluster-balanced sampling), "
    "k=16: hash-spread seeds + 6dp-rounded Lloyd refinement + final "
    "max-cosine assignment, centroids as one folded broadcast literal, "
    "assignment a codegen'd scan expression (pinned-golden oracle: "
    "independent pure-Python Lloyd replay)",
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return S.kmeans_cluster(e, k=16, id_col="vec_id", vec_col="embedding", lloyd_iters=4)


@q(
    "embedding_pca",
    PIPELINE_GOLDEN_SQL["embedding_pca"],
    "PCA over the embeddings table (r8 - the reduction/whitening step "
    "FAISS's PCAMatrix applies before indexing): mean/covariance on "
    "the hash-spread <=4096-row sample (one corpus pass at any scale, "
    "6dp-rounded matrices for determinism), top-4 sign-fixed "
    "eigenvectors, then every vector projected by pure scan-side "
    "zip_with/aggregate folds - zero shuffle, zero Python on data "
    "(pinned-golden oracle: independent loop-accumulated replay)",
)
def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    mu, comps, _var = S.pca_train(e, n_components=4)
    proj = S.pca_project(e, mu, comps)
    return proj.select(
        "id", *[F.col("pc")[k].alias(f"pc{k + 1}") for k in range(4)]
    )


@q(
    "graph_assortativity",
    """
    WITH el AS (
      SELECT * FROM read_csv('/root/reference/Shenzhen_Edgelist_1.csv',
                             header = true, all_varchar = true)
      WHERE START_NODE IS NOT NULL AND START_NODE <> ''
    ), n AS (SELECT DISTINCT START_NODE AS id FROM el),
    e AS (
      SELECT DISTINCT el.START_NODE AS src, el.END_NODE AS dst
      FROM el JOIN n n1 ON el.START_NODE = n1.id JOIN n n2 ON el.END_NODE = n2.id
    ),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM e WHERE src <> dst
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    both_dir AS (
      SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
    )
    SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
           CORR(CAST(d1.d AS DOUBLE), CAST(d2.d AS DOUBLE)) AS assortativity
    FROM both_dir
    JOIN deg d1 ON d1.v = both_dir.a
    JOIN deg d2 ON d2.v = both_dir.b
    """,
    "degree assortativity coefficient (Newman 2002) of the undirected "
    "simple road graph: Pearson correlation of endpoint degrees over "
    "both edge orientations - hubs-link-to-hubs vs disassortative "
    "structure in one row (full SQL oracle, CORR in both engines)",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import degree_assortativity

    _, roads = _graph(spark)
    return degree_assortativity(roads)


@q(
    "bpe_tokenize",
    PIPELINE_GOLDEN_SQL["bpe_tokenize"],
    "BPE tokenizer train + encode (Sennrich et al. 2016): merges "
    "learned from ONE distributed word-histogram aggregation (the HF "
    "tokenizers design - corpus size never enters the driver loop), "
    "encoding via broadcast rank table in one Arrow mapInPandas with a "
    "per-batch word memo; per doc (id, n_tokens, head sample). "
    "Pinned-golden oracle: independent pure-Python histogram + merge + "
    "greedy-encode replay",
)
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import bpe_encode, bpe_train

    d = _docs(spark, sf_dir)
    merges = bpe_train(d, num_merges=100, max_words=20000)
    enc = bpe_encode(d, merges)
    return enc.select(
        "id", "n_tokens", F.concat_ws(" ", "first_tokens").alias("head")
    )


@q(
    "bpe_fertility",
    PIPELINE_GOLDEN_SQL["bpe_fertility"],
    "tokenizer fertility audit per source: BPE tokens per word / per "
    "char under the training whitespace contract — one mapInPandas "
    "encode pass + one keyed join of narrow counts + a map-side "
    "combined group aggregate (pinned-golden oracle: independent BPE "
    "replay aggregated per source)",
)
def bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import bpe_fertility as _bf
    from bigdata_foundation_spark.operators.text import bpe_train

    d = _docs(spark, sf_dir)
    merges = bpe_train(d, num_merges=100, max_words=20000)
    return _bf(d, merges)


@q(
    "quality_classifier",
    PIPELINE_GOLDEN_SQL["quality_classifier"],
    "fastText-style hashed linear quality classifier (Joulin et al. "
    "2016 - the CCNet/GPT-3 quality-filter pattern): train logistic "
    "weights over L1-normalized hashed bag-of-words (dim=256, "
    "pmod(xxhash64(word), dim)) by full-batch GD over a hash-spread "
    "<=4096-doc sample (ONE corpus pass at any scale; JVM-side feature "
    "hashing, driver-side iterations, 6dp weight rounding) - then "
    "score the WHOLE corpus as one scan-side HOF fold (zero shuffle, "
    "zero Python). Label: lang == 'en'. Pinned-golden oracle: "
    "independent pure-Python feature/GD/scoring replay",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import (
        linear_classifier_score,
        train_linear_classifier,
    )

    d = _docs(spark, sf_dir)
    w, b = train_linear_classifier(
        d, F.col("lang") == F.lit("en"), dim=256, iters=10
    )
    return linear_classifier_score(d, w, b)


@q(
    "graph_hyperball",
    PIPELINE_GOLDEN_SQL["graph_hyperball"],
    "HyperBall neighborhood function (Boldi & Vigna 2013): N(t) for "
    "t=0..8 over the directed road graph via one deterministic "
    "HyperLogLog register set per node merged along out-edges each "
    "round - the distance-analytics sketch for graphs too big for "
    "per-source SSSP; the register contract is pinned (JVM xxhash64 "
    "seeds), so the gate value-matches even though N(t) estimates the "
    "true ball sizes. Pinned-golden oracle: independent pure-Python "
    "register replay via the ported xxhash64",
)
def graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import hyperball

    _, roads = _graph(spark)
    return hyperball(roads, t_max=8, m=64, projection=_graph_projection(spark))


@q(
    "graph_ktruss",
    PIPELINE_GOLDEN_SQL["graph_ktruss"],
    "truss decomposition (Cohen 2008): per undirected edge the largest "
    "k whose k-truss keeps it (every edge closing >= k-2 in-subgraph "
    "triangles) - the triangle-certified edge-strength ladder next to "
    "k-core. Broadcast tier: incremental min-support peel; past the "
    "limit: level-synchronous drop rounds over the live set (peel "
    "order provably cannot change the ladder). Pinned-golden oracle: "
    "independent level-synchronous pure-Python replay",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.graph.etl import truss_decomposition

    _, roads = _graph(spark)
    return truss_decomposition(roads, projection=_graph_projection(spark)).orderBy(
        "src", "dst"
    )


@q(
    "perplexity_buckets",
    r"""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), scal AS (
      SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts
    ), scored AS (
      SELECT toks.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             AVG(-log2((counts.c + 0.5) / (scal.n_total + 0.5 * scal.v))) AS nll_per_token
      FROM toks JOIN counts USING (tok) CROSS JOIN scal
      GROUP BY toks.doc_id
    )
    SELECT doc_id, lang, n_tokens, nll_per_token,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM (
      SELECT s.doc_id, d.lang, s.n_tokens, s.nll_per_token,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY ROUND(s.nll_per_token, 6) ASC, s.doc_id ASC) AS nt
      FROM scored s JOIN documents d USING (doc_id)
    ) t
    """,
    "NEW r9: CCNet head/middle/tail perplexity bucketing (Wenzek 2020 "
    "S4.3) - per LANGUAGE, rank docs by the unigram-LM nll and ntile "
    "the ranking into thirds; head = cleanest slice. One lang-keyed "
    "Exchange for the window on top of the scorer's aggregates. Full "
    "SQL oracle",
)
def perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


@q(
    "zipf_fit",
    r"""
    WITH toks AS (
      SELECT t.tok AS tok
      FROM documents, unnest(regexp_split_to_array(lower(text), '\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), counts AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), pts AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS r FROM counts) rk
      WHERE r <= 1000
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           ROUND((SUM(y) - (COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)) * SUM(x)) / COUNT(*), 6) AS ln_intercept
    FROM pts
    """,
    "NEW r9: Zipf's-law fit over corpus token frequencies - OLS of "
    "ln(freq) on ln(rank) for the top-1000 tokens (natural text sits "
    "near slope -1; templated/generated corpora bend away). One count "
    "aggregate + TakeOrdered top-n + a 5-scalar OLS agg. Full SQL "
    "oracle",
)
def zipf_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.operators.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


# ===========================================================================
# Web/URL curation (r11)
# ===========================================================================

# The synthetic URL derivation is shared VERBATIM between the Spark
# expression below and the oracle's SQL — both build the same raw URL
# per doc_id, then the engine normalizes with operators.web and the
# oracle replays the identical RE2-safe regex pipeline.

def _synth_url(d):
    """Deterministic raw URL per doc_id, covering the whole
    normalization matrix: mixed-case schemes/hosts, default and
    non-default ports, tracking params (leading/trailing/consecutive/
    mid-query), fragments, and NINE host families exercising every
    PSL rule kind (r13): plain 2-label suffix (.co.uk), wildcard
    (*.kawasaki.jp), exception (!city.kawasaki.jp), 3-label suffix
    (k12.ca.us), plus IPv4/IPv6 literals."""
    s = F.col(d) if isinstance(d, str) else d
    sch = (
        F.when(s % 3 == 0, F.lit("https"))
        .when(s % 3 == 1, F.lit("HTTP"))
        .otherwise(F.lit("HTTPS"))
    )
    host = (
        F.when(s % 9 == 0, F.concat(F.lit("WWW.Example"), (s % 20).cast("string"), F.lit(".COM")))
        .when(s % 9 == 1, F.concat(F.lit("news.site"), (s % 10).cast("string"), F.lit(".co.uk")))
        .when(s % 9 == 2, F.concat(F.lit("Blog"), (s % 15).cast("string"), F.lit(".ORG")))
        .when(s % 9 == 3, F.concat(F.lit("cdn.media"), (s % 5).cast("string"), F.lit(".net")))
        # IP-hosted families (r12 advice fix: the full IP host IS the
        # registered domain — no label cutting, no '3.4' pseudo-domain)
        .when(s % 9 == 4, F.concat(F.lit("203.0.113."), (s % 4).cast("string")))
        .when(s % 9 == 5, F.concat(F.lit("[2001:DB8::"), (s % 3).cast("string"), F.lit("]")))
        # PSL rule-kind families (r13): wildcard / exception / 3-label
        .when(s % 9 == 6, F.concat(F.lit("a.b.shop"), (s % 4).cast("string"), F.lit(".kawasaki.jp")))
        .when(s % 9 == 7, F.concat(F.lit("Sub"), (s % 3).cast("string"), F.lit(".City.Kawasaki.JP")))
        .otherwise(F.concat(F.lit("district"), (s % 5).cast("string"), F.lit(".k12.ca.us")))
    )
    # userinfo on some ids (r11 review: host/domain extraction must
    # skip user[:pass]@ — hostnames cannot contain '@')
    host = F.when(s % 8 == 5, F.concat(F.lit("u"), (s % 3).cast("string"), F.lit(":Pw@"), host)).otherwise(host)
    port = (
        F.when(s % 5 == 0, F.lit(":443"))
        .when(s % 5 == 1, F.lit(":80"))
        .when(s % 5 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    # some paths carry a LITERAL '&ref=' (r11 review: the tracking
    # strip must be anchored to the query string, never the path)
    path = F.when(
        s % 7 == 3,
        F.concat(F.lit("/price&ref=sidebar/"), (s % 25).cast("string")),
    ).otherwise(F.concat(F.lit("/Articles/"), (s % 25).cast("string")))
    qry = (
        F.when(s % 6 == 0, F.concat(F.lit("?utm_source=feed&id="), s.cast("string")))
        .when(s % 6 == 1, F.concat(F.lit("?id="), s.cast("string"), F.lit("&utm_campaign=q"), (s % 3).cast("string")))
        .when(s % 6 == 2, F.lit("?utm_medium=m&utm_term=t"))
        .when(s % 6 == 3, F.lit("?a=1&ref=rss&b=2"))
        # '&ref=p2' is NOT a referral slug and must SURVIVE (r12
        # advice fix: 'ref' strips value-exact, not blanket)
        .when(s % 6 == 4, F.concat(F.lit("?p="), (s % 9).cast("string"), F.lit("&ref=p2")))
        .otherwise(F.lit(""))
    )
    frag = F.when(s % 2 == 0, F.concat(F.lit("#sec"), (s % 4).cast("string"))).otherwise(F.lit(""))
    return F.concat(sch, F.lit("://"), host, port, path, qry, frag)


_SYNTH_URL_SQL = """
      CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTP' ELSE 'HTTPS' END
      || '://' ||
      CASE WHEN doc_id % 8 = 5 THEN 'u' || CAST(doc_id % 3 AS VARCHAR) || ':Pw@' ELSE '' END
      ||
      CASE doc_id % 9
        WHEN 0 THEN 'WWW.Example' || CAST(doc_id % 20 AS VARCHAR) || '.COM'
        WHEN 1 THEN 'news.site' || CAST(doc_id % 10 AS VARCHAR) || '.co.uk'
        WHEN 2 THEN 'Blog' || CAST(doc_id % 15 AS VARCHAR) || '.ORG'
        WHEN 3 THEN 'cdn.media' || CAST(doc_id % 5 AS VARCHAR) || '.net'
        WHEN 4 THEN '203.0.113.' || CAST(doc_id % 4 AS VARCHAR)
        WHEN 5 THEN '[2001:DB8::' || CAST(doc_id % 3 AS VARCHAR) || ']'
        WHEN 6 THEN 'a.b.shop' || CAST(doc_id % 4 AS VARCHAR) || '.kawasaki.jp'
        WHEN 7 THEN 'Sub' || CAST(doc_id % 3 AS VARCHAR) || '.City.Kawasaki.JP'
        ELSE 'district' || CAST(doc_id % 5 AS VARCHAR) || '.k12.ca.us' END
      ||
      CASE doc_id % 5 WHEN 0 THEN ':443' WHEN 1 THEN ':80' WHEN 2 THEN ':8080' ELSE '' END
      ||
      CASE WHEN doc_id % 7 = 3 THEN '/price&ref=sidebar/' ELSE '/Articles/' END
      || CAST(doc_id % 25 AS VARCHAR) ||
      CASE doc_id % 6
        WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=q' || CAST(doc_id % 3 AS VARCHAR)
        WHEN 2 THEN '?utm_medium=m&utm_term=t'
        WHEN 3 THEN '?a=1&ref=rss&b=2'
        WHEN 4 THEN '?p=' || CAST(doc_id % 9 AS VARCHAR) || '&ref=p2'
        ELSE '' END
      ||
      CASE doc_id % 2 WHEN 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END
"""

URL_STATS_ORACLE = f"""
    WITH u AS (
      SELECT {_SYNTH_URL_SQL} AS url FROM documents
    ), n1 AS (
      SELECT url, regexp_replace(url, '#.*$', '', 'g') AS x FROM u
    ), n2 AS (
      SELECT url,
             regexp_extract(x, '^[^?]*')
             || regexp_replace(regexp_replace(x, '^[^?]*', '', 'g'),
                  '([?&])(?:(?:(?:utm_[a-z0-9]+|fbclid|gclid|msclkid)=[^&]*|ref=(?:rss|feed|share|social|twitter|facebook|newsletter|email))(?:&|$))+',
                  '\\1', 'g') AS x
      FROM n1
    ), n3 AS (
      SELECT url, regexp_replace(x, '[?&]$', '', 'g') AS x FROM n2
    ), n4 AS (
      SELECT url,
             lower(regexp_extract(x, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
             || regexp_replace(x, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g') AS x
      FROM n3
    ), n5 AS (
      SELECT url, regexp_replace(regexp_replace(x,
               '^(https://[^/?#]+):443([/?].*)?$', '\\1\\2', 'g'),
               '^(http://[^/?#]+):80([/?].*)?$', '\\1\\2', 'g') AS norm
      FROM n4
    ), hosts AS (
      SELECT norm,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#@]+)', 1)),
               '^\\[|\\]$', '', 'g') AS host0
      FROM n5
    ), hostns AS (
      SELECT norm, host0,
             regexp_replace(host0, '^www\\.', '', 'g') AS hostn
      FROM hosts
    ), doms AS (
      SELECT norm, {W.psl_domain_sql("host0", "hostn")} AS domain
      FROM hostns
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_unique
    FROM doms GROUP BY domain
"""


@q(
    "url_normalize_stats",
    URL_STATS_ORACLE,
    "URL curation front door (C4/RefinedWeb pattern): normalize "
    "(fragment/tracking-param/default-port strip, case-fold "
    "scheme+authority), extract the registered domain (eTLD+1 via "
    "the PSL data file - r13: wildcard/exception/3-label rule kinds "
    "all exercised by the host matrix), "
    "aggregate page count + distinct-normalized-URL count per domain "
    "- the URL-level dedup denominator and the per-domain cap key. "
    "All scan-side regexp codegen; the oracle replays the identical "
    "RE2-safe regex pipeline over the same synthesized URL matrix. "
    "Full SQL oracle",
)
def url_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    urls = d.select(_synth_url("doc_id").alias("url"))
    return W.domain_stats(urls).orderBy("domain")


DOMAIN_LOOKUP_ORACLE = f"""
    WITH u AS (
      SELECT {_SYNTH_URL_SQL} AS url FROM documents
    ), hosts AS (
      SELECT regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#@]+)', 1)),
               '^\\[|\\]$', '', 'g') AS host0
      FROM u
    ), hostns AS (
      SELECT host0, regexp_replace(host0, '^www\\.', '', 'g') AS hostn
      FROM hosts
    ), doms AS (
      SELECT {W.psl_domain_sql("host0", "hostn")} AS domain FROM hostns
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM doms GROUP BY domain
"""


@q(
    "domain_lookup_stats",
    DOMAIN_LOOKUP_ORACLE,
    "registered domain via BROADCAST SUFFIX LOOKUP (r14 - the "
    "full-PSL scale path: tools/psl_scale_probe.py measured the "
    "alternation-regex tiers at 74 s/1M URLs under a 14.5k-rule "
    "stress list vs 2.5 s curated - java.util.regex walks the whole "
    "alternation per row; the lookup probes the host's k-label "
    "suffixes against broadcast hash tables, rule-count-independent, "
    "URL side never shuffles). The oracle replays the REGEX tier "
    "semantics (psl_domain_sql), so the gate value-locks the two "
    "implementations' agreement on the full synth host matrix "
    "(wildcard/exception/3-label/IP families). Full SQL oracle",
)
def domain_lookup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    urls = d.select(_synth_url("doc_id").alias("url"))
    return (
        W.registered_domain_lookup(urls, "url", "domain")
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_urls"))
        .orderBy("domain")
    )


# ===========================================================================
# Stupid Backoff trigram LM (r11)
# ===========================================================================

STUPID_BACKOFF_ORACLE = r"""
    WITH tb AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents WHERE lang = 'en'
        AND len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) > 0
    ), uni AS (
      SELECT tok, COUNT(*) AS cu FROM (SELECT unnest(ts) AS tok FROM tb) GROUP BY tok
    ), scal AS (
      SELECT SUM(cu) AS n_total, COUNT(*) AS v FROM uni
    ), bi AS (
      SELECT b[1] AS a, b[2] AS b2, COUNT(*) AS cb
      FROM (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS b
            FROM tb WHERE len(ts) >= 2)
      GROUP BY 1, 2
    ), tri AS (
      SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, COUNT(*) AS ct
      FROM (SELECT unnest(list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)])) AS g
            FROM tb WHERE len(ts) >= 3)
      GROUP BY 1, 2, 3
    ), sb AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
      FROM documents
    ), pos AS (
      SELECT doc_id, g[1] AS w1, g[2] AS w2, g[3] AS w3
      FROM (SELECT doc_id, unnest(list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)])) AS g
            FROM sb WHERE len(ts) >= 3)
    ), sc AS (
      SELECT pos.doc_id,
             -log2(CASE
               WHEN tri.ct IS NOT NULL THEN tri.ct / b12.cb
               WHEN b23.cb IS NOT NULL THEN 0.4 * b23.cb / u2.cu
               ELSE 0.4 * 0.4 * (COALESCE(u3.cu, 0) + 0.5)
                    / (scal.n_total + 0.5 * scal.v)
             END) AS nll
      FROM pos
      LEFT JOIN tri ON tri.w1 = pos.w1 AND tri.w2 = pos.w2 AND tri.w3 = pos.w3
      LEFT JOIN bi b12 ON b12.a = pos.w1 AND b12.b2 = pos.w2
      LEFT JOIN bi b23 ON b23.a = pos.w2 AND b23.b2 = pos.w3
      LEFT JOIN uni u2 ON u2.tok = pos.w2
      LEFT JOIN uni u3 ON u3.tok = pos.w3
      CROSS JOIN scal
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, AVG(nll) AS nll_per_token
    FROM sc GROUP BY doc_id
"""


@q(
    "stupid_backoff_lm",
    STUPID_BACKOFF_ORACLE,
    "Stupid Backoff trigram LM scoring (Brants et al. 2007 - the "
    "web-scale counts-only LM scheme): train tri/bi/unigram counts on "
    "the lang='en' slice, score EVERY document by mean -log2 of the "
    "backoff score (alpha=0.4, add-k unigram floor for OOV) - "
    "non-English documents exercise all three backoff tiers. "
    "Full SQL oracle",
)
def stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("lang") == "en")
    return TX.stupid_backoff_score(docs, train).orderBy("doc_id")


# ===========================================================================
# GIF decode entries (r11)
# ===========================================================================

@q(
    "multimodal_gif_decode",
    PIPELINE_GOLDEN_SQL["multimodal_gif_decode"],
    "REAL stdlib GIF87a/89a decode (r11 debut): deterministic synth "
    "payloads -> LZW decompress (real dictionary compression, not the "
    "clear-code trick), global/local palettes, interlacing, first-frame "
    "composite, pixel features; pinned golden from the bytes-free "
    "replay (tools/gen_pipeline_goldens._gif_replay_frames - any codec "
    "bug breaks the equality)",
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    dec = M.decode_features(M.synth_gif_table(d))
    return dec.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("feature")[3].cast("double"), 6).alias("gray_mean"),
        F.round(F.col("feature")[7].cast("double"), 6).alias("gray_std"),
    )


@q(
    "multimodal_gif_frames",
    PIPELINE_GOLDEN_SQL["multimodal_gif_frames"],
    "animated-GIF frame sampling (r11 debut): composited full-canvas "
    "frames (region placement + transparency), every-2nd-frame sample, "
    "per-frame pixel features; pinned golden from the bytes-free replay",
)
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    frames = M.gif_frame_table(M.synth_gif_table(d), every_n=2, max_frames=4)
    return frames.select(
        "media_id",
        "frame_no",
        "width",
        "height",
        F.round(F.col("feature")[3].cast("double"), 6).alias("gray_mean"),
        F.round(F.col("feature")[7].cast("double"), 6).alias("gray_std"),
    )

_SYNTH_HTML_SQL = """
      '<html><head><title>D' || CAST(doc_id AS VARCHAR)
      || '</title><style>p{color:red}</style>'
      || '<script type="text/javascript">if (x &amp;&amp; y) { f(); }</script>'
      || '</head><body><!-- c' || CAST(doc_id % 5 AS VARCHAR) || ' -->'
      || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
      || '</p><div>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>'
      || '<TABLE><tr><td>cell' || CAST(doc_id % 3 AS VARCHAR)
      || '</td></tr></TABLE></body></html>'
"""

HTML_EXTRACT_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, {_SYNTH_HTML_SQL} AS html FROM documents
    ), s1 AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
               '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g') AS t
      FROM h
    ), s2 AS (
      SELECT doc_id, regexp_replace(regexp_replace(t,
               '(?i)</?(?:p|br|div|li|ul|ol|tr|table|h[1-6])\\b[^>]*>', chr(10), 'g'),
               '<[^>]*>', '', 'g') AS t
      FROM s1
    ), s3 AS (
      SELECT doc_id,
             replace(replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t
      FROM s2
    ), s4 AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(t, '\r\n?', chr(10), 'g'),
               '[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'),
               '\n+', chr(10), 'g'), ' ' || chr(10)) AS extracted
      FROM s3
    )
    SELECT doc_id, extracted FROM s4
"""


@q(
    "html_extract_text",
    HTML_EXTRACT_ORACLE,
    "crawl-side HTML -> text extraction (r11 - the step every web "
    "corpus runs first): script/style/comment removal, block tags -> "
    "newlines, entity decode, whitespace normalization - one codegen "
    "regexp chain, byte-exact against the oracle's replay of the same "
    "pipeline over the same synthesized HTML. Full SQL oracle",
)
def html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>D"), did.cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit('<script type="text/javascript">if (x &amp;&amp; y) { f(); }</script>'),
        F.lit("</head><body><!-- c"), (did % 5).cast("string"), F.lit(" -->"),
        F.lit("<h1>Doc "), did.cast("string"), F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><div>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div>"),
        F.lit("<TABLE><tr><td>cell"), (did % 3).cast("string"),
        F.lit("</td></tr></TABLE></body></html>"),
    )
    return d.select("doc_id", W.html_to_text(html).alias("extracted"))


# --- html_main_content (r12): boilerplate-removing extraction -------------
#
# The synthesized page plants REAL boilerplate shapes around the
# document text: a nav bar (link-dense), a cookie banner (short), a
# headline (short), share/related link rows (link-dense), a footer
# (link-dense) — and, for doc_id % 10 == 0, a SECOND genuine body
# paragraph, so the gate proves the classifier keeps multi-block
# content and not just "the one <p>".

_SYNTH_MAIN_HTML_SQL = (
    "'<html><head><title>D' || CAST(doc_id AS VARCHAR)"
    " || '</title><style>p{color:red}</style>'"
    " || '<script>if (a<b && c>d) { f(); }</script></head><body>'"
    " || '<div><a href=\"/\">Home</a> <a href=\"/s' || CAST(doc_id % 4 AS VARCHAR)"
    " || '\">Section</a> <a href=\"/tag\">Tags</a> <a href=\"/login\">Log in</a></div>'"
    " || '<div>We use cookies. <a href=\"#a\">Accept</a> <a href=\"#r\">Reject</a></div>'"
    " || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>'"
    " || CASE WHEN doc_id % 10 = 0 THEN '<p>Documents divisible by ten carry this"
    " second body paragraph with comfortably more than eight words.</p>' ELSE '' END"
    " || '<p>Share: <a href=\"/tw\">Tweet</a> <a href=\"/fb\">Share</a>"
    " <a href=\"/ln\">Post</a></p>'"
    " || '<ul><li><a href=\"/rel' || CAST(doc_id % 7 AS VARCHAR)"
    " || '\">Related article</a></li><li><a href=\"/more\">More stories</a></li></ul>'"
    " || '<div>Copyright Site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '. <a href=\"/p\">Privacy policy</a> <a href=\"/t\">Terms of use</a>"
    " <a href=\"/c\">Contact</a></div></body></html>'"
)


def _block_txt_sql(inner: str) -> str:
    """DuckDB replay of web._block_plain_text: inline tags stripped,
    entities decoded ('&amp;' LAST), whitespace collapsed, trimmed."""
    return (
        "trim(regexp_replace(replace(replace(replace(replace(replace(replace("
        + "regexp_replace(" + inner + ", '<[^>]*>', '', 'g'),"
        + " '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)),"
        + " '&nbsp;', ' '), '&amp;', '&'),"
        + " '[ \\t\\r\\n]+', ' ', 'g'))"
    )


HTML_MAIN_ORACLE = (
    """
    WITH h AS (
      SELECT doc_id, """ + _SYNTH_MAIN_HTML_SQL + """ AS html FROM documents
    ), s1 AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
               '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g') AS t
      FROM h
    ), b AS (
      SELECT doc_id, string_split_regex(t,
               '(?i)</?(?:p|br|div|li|ul|ol|tr|table|h[1-6])\\b[^>]*>') AS blocks
      FROM s1
    ), f AS (
      SELECT doc_id, list_transform(blocks, x -> struct_pack(
               txt := """ + _block_txt_sql("x") + """,
               na := """
    + _block_txt_sql("regexp_replace(x, '(?is)<a\\b[^>]*>.*?</a>', '', 'g')")
    + """)) AS feats
      FROM b
    ), k AS (
      SELECT doc_id, list_filter(feats, s -> s.txt <> ''
               AND len(string_split(s.txt, ' ')) >= 8
               AND CAST(length(s.txt) - length(s.na) AS DOUBLE)
                   <= 0.34 * CAST(length(s.txt) AS DOUBLE)) AS kept
      FROM f
    )
    SELECT doc_id,
           array_to_string(list_transform(kept, s -> s.txt), chr(10)) AS main_text
    FROM k
"""
)


@q(
    "html_main_content",
    HTML_MAIN_ORACLE,
    "boilerplate-removing main-content extraction (r12 - the "
    "Kohlschuetter WSDM'10 shallow-text-feature classifier the r11 "
    "verdict named as the biggest real-user gap): block-split at the "
    "block-level tags, per-block word count + link density, "
    "threshold keep/drop, reassemble in document order - pure "
    "array-op codegen (transform/filter/array_join), zero Python, "
    "zero shuffle. The synthesized pages plant nav bars, cookie "
    "banners, share/related link rows, and footers around the real "
    "document text (plus a second genuine paragraph for every 10th "
    "doc); the oracle replays the identical classifier with DuckDB "
    "list lambdas. Full SQL oracle",
)
def html_main_content_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        W.html_main_content(_synth_main_html(F.col("doc_id"), F.col("text"))).alias(
            "main_text"
        ),
    )


def _synth_main_html(did, text):
    """The boilerplate-laden page matrix shared by html_main_content
    and warc_to_wet — Spark-side twin of ``_SYNTH_MAIN_HTML_SQL`` (the
    two must stay in lockstep; the gates value-match only while they
    agree)."""
    return F.concat(
        F.lit("<html><head><title>D"), did.cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit("<script>if (a<b && c>d) { f(); }</script></head><body>"),
        F.lit('<div><a href="/">Home</a> <a href="/s'), (did % 4).cast("string"),
        F.lit('">Section</a> <a href="/tag">Tags</a> <a href="/login">Log in</a></div>'),
        F.lit('<div>We use cookies. <a href="#a">Accept</a> <a href="#r">Reject</a></div>'),
        F.lit("<h1>Doc "), did.cast("string"), F.lit("</h1><p>"), text, F.lit("</p>"),
        F.when(
            did % 10 == 0,
            F.lit(
                "<p>Documents divisible by ten carry this"
                " second body paragraph with comfortably more than eight words.</p>"
            ),
        ).otherwise(F.lit("")),
        F.lit('<p>Share: <a href="/tw">Tweet</a> <a href="/fb">Share</a>'),
        F.lit(' <a href="/ln">Post</a></p>'),
        F.lit('<ul><li><a href="/rel'), (did % 7).cast("string"),
        F.lit('">Related article</a></li><li><a href="/more">More stories</a></li></ul>'),
        F.lit("<div>Copyright Site"), (did % 5).cast("string"),
        F.lit('. <a href="/p">Privacy policy</a> <a href="/t">Terms of use</a>'),
        F.lit(' <a href="/c">Contact</a></div></body></html>'),
    )


@q(
    "warc_to_wet",
    """
    WITH h AS (
      SELECT doc_id, """ + _SYNTH_MAIN_HTML_SQL + """ AS html FROM documents
      WHERE doc_id % 5 <> 0
    ), s1 AS (
      SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script\\b[^>]*>.*?</script>', '', 'g'),
               '(?is)<style\\b[^>]*>.*?</style>', '', 'g'),
               '(?s)<!--.*?-->', '', 'g') AS t
      FROM h
    ), b AS (
      SELECT doc_id, string_split_regex(t,
               '(?i)</?(?:p|br|div|li|ul|ol|tr|table|h[1-6])\\b[^>]*>') AS blocks
      FROM s1
    ), f AS (
      SELECT doc_id, list_transform(blocks, x -> struct_pack(
               txt := """ + _block_txt_sql("x") + """,
               na := """
    + _block_txt_sql("regexp_replace(x, '(?is)<a\\b[^>]*>.*?</a>', '', 'g')")
    + """)) AS feats
      FROM b
    ), k AS (
      SELECT doc_id, list_filter(feats, s -> s.txt <> ''
               AND len(string_split(s.txt, ' ')) >= 8
               AND CAST(length(s.txt) - length(s.na) AS DOUBLE)
                   <= 0.34 * CAST(length(s.txt) AS DOUBLE)) AS kept
      FROM f
    )
    SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
             || CAST(doc_id AS VARCHAR) AS target_uri,
           array_to_string(list_transform(kept, s -> s.txt), chr(10)) AS wet_text
    FROM k
    """,
    "WARC -> WET derivation (r13 - the C4/Common Crawl front door "
    "END-TO-END as one value-gated pipeline: full WARC response "
    "records carrying the boilerplate-laden page matrix round-trip "
    "through parse_warc, the 200 + text/html filter, and the "
    "Kohlschuetter main-content classifier to (uri, extracted text) "
    "- Common Crawl's WET sidecar files, derived instead of "
    "pre-baked. Every stage is scan-side codegen; the oracle replays "
    "the classifier over the same pages restricted to the 200s, so a "
    "defect in the record framing, the header parse, the "
    "status/media-type filter, or the extraction breaks the match. "
    "Full SQL oracle",
)
def warc_to_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.io import parse_warc

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    is404 = did % 5 == 0
    page = _synth_main_html(did, F.col("text"))
    body = F.when(is404, F.lit("not found")).otherwise(page)
    http = F.concat(
        F.when(is404, F.lit("HTTP/1.1 404 Not Found\r\n")).otherwise(
            F.lit("HTTP/1.1 200 OK\r\n")
        ),
        F.when(is404, F.lit("Content-Type: text/plain\r\n")).otherwise(
            F.lit("Content-Type: text/html; charset=utf-8\r\n")
        ),
        F.lit("Server: synth\r\n\r\n"),
        body,
    )
    record = F.concat(
        F.lit("WARC-Type: response\r\nWARC-Target-URI: https://site"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    parsed = parse_warc(d.select(record.alias("record")))
    return parsed.filter(
        (F.col("http_status") == 200) & (F.col("content_type") == "text/html")
    ).select(
        "target_uri",
        W.html_main_content(F.col("body")).alias("wet_text"),
    )


# --- HTML page metadata (r12): title/description/canonical/lang -----------

_SYNTH_META_HTML_SQL = """
      '<html' || CASE WHEN doc_id % 3 = 0 THEN ' lang="EN-us"' ELSE '' END || '><head>'
      || '<title>  Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; more  </title>'
      || CASE doc_id % 4
           WHEN 0 THEN '<meta name="description" content="summary ' || CAST(doc_id % 9 AS VARCHAR) || '">'
           WHEN 1 THEN '<meta content="alt summary ' || CAST(doc_id % 9 AS VARCHAR) || '" name="description">'
           WHEN 2 THEN '<meta name="keywords" content="k1,k2">'
           ELSE '' END
      || CASE WHEN doc_id % 5 = 0
              THEN '<link rel="canonical" href="https://canon.site/' || CAST(doc_id AS VARCHAR) || '">'
              ELSE '' END
      || '</head><body><p>' || text || '</p></body></html>'
"""

HTML_META_ORACLE = f"""
    WITH h AS (
      SELECT doc_id, {_SYNTH_META_HTML_SQL} AS html FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(replace(
             regexp_extract(html, '(?is)<title\\b[^>]*>(.*?)</title>', 1),
             '&amp;', '&'), '[ \t\r\n]+', ' ', 'g')) AS title,
           CASE doc_id % 4
             WHEN 0 THEN 'summary ' || CAST(doc_id % 9 AS VARCHAR)
             WHEN 1 THEN 'alt summary ' || CAST(doc_id % 9 AS VARCHAR)
             ELSE '' END AS meta_description,
           CASE WHEN doc_id % 5 = 0
                THEN 'https://canon.site/' || CAST(doc_id AS VARCHAR)
                ELSE '' END AS canonical_url,
           CASE WHEN doc_id % 3 = 0 THEN 'en-us' ELSE '' END AS lang
    FROM h
"""


@q(
    "html_meta_extract",
    HTML_META_ORACLE,
    "page-level metadata extraction (r12 - the provenance fields "
    "C4/Dolma keep alongside the text): title (entity-decoded, "
    "whitespace-collapsed), meta description (both attribute "
    "orders), canonical link, html lang - pure codegen regexp "
    "extraction over the scan, zero shuffle. The oracle replays the "
    "title regex verbatim and re-derives the other fields from the "
    "synthesis rule, so a mis-extraction on either path breaks the "
    "match. Full SQL oracle",
)
def html_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit("<html"),
        F.when(did % 3 == 0, F.lit(' lang="EN-us"')).otherwise(F.lit("")),
        F.lit("><head><title>  Doc "), did.cast("string"),
        F.lit(" &amp; more  </title>"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit('<meta name="description" content="summary '),
                     (did % 9).cast("string"), F.lit('">')),
        )
        .when(
            did % 4 == 1,
            F.concat(F.lit('<meta content="alt summary '),
                     (did % 9).cast("string"), F.lit('" name="description">')),
        )
        .when(did % 4 == 2, F.lit('<meta name="keywords" content="k1,k2">'))
        .otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit('<link rel="canonical" href="https://canon.site/'),
                     did.cast("string"), F.lit('">')),
        ).otherwise(F.lit("")),
        F.lit("</head><body><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return W.html_meta(d.select("doc_id", html.alias("html"))).drop("html")


# --- WARC parse (r12): the crawl-archive source format --------------------

# Shared by warc_parse and warc_gz_parse (r13): both run the SAME
# records through parse_warc — once via the plain-text split, once
# re-packed as per-member gzip — so both must land on this aggregate.
WARC_AGG_ORACLE = """
    SELECT CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN 'text/plain' ELSE 'text/html' END AS content_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN length('not found')
                         ELSE length('<html><body><p>' || text || '</p></body></html>')
                    END) AS BIGINT) AS body_bytes,
           CAST(COUNT(DISTINCT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_uris
    FROM documents
    GROUP BY 1, 2
    """


@q(
    "warc_parse",
    WARC_AGG_ORACLE,
    "WARC web-archive record parsing (r12 - the Common Crawl source "
    "format, io.parse_warc): a full WARC response record (WARC "
    "headers + HTTP status/headers + HTML body) is synthesized "
    "scan-side per document and round-trips through the real parser "
    "back to typed fields (type, target URI, status, media type, "
    "body); the oracle re-derives the aggregate from the base "
    "columns, so any header-regex/body-split defect breaks the "
    "match. Full SQL oracle",
)
def warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.io import parse_warc

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    is404 = did % 5 == 0
    body = F.when(is404, F.lit("not found")).otherwise(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>"))
    )
    http = F.concat(
        F.when(is404, F.lit("HTTP/1.1 404 Not Found\r\n")).otherwise(
            F.lit("HTTP/1.1 200 OK\r\n")
        ),
        F.when(is404, F.lit("Content-Type: text/plain\r\n")).otherwise(
            F.lit("Content-Type: text/html; charset=utf-8\r\n")
        ),
        F.lit("Server: synth\r\n\r\n"),
        body,
    )
    record = F.concat(
        F.lit("WARC-Type: response\r\nWARC-Target-URI: https://site"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    parsed = parse_warc(d.select(record.alias("record")))
    return (
        parsed.groupBy("http_status", "content_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.countDistinct("target_uri").cast("bigint").alias("n_uris"),
        )
    )


def _warc_gz_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the warc_parse record matrix as a MULTI-MEMBER
    ``.warc.gz`` (one gzip member per record — Common Crawl's exact
    layout) in the temp dir, cached per sf_dir. Fixture synthesis
    only: the bounded driver-side collect builds the archive the
    operator under test then reads DISTRIBUTED; at the gate scales
    the archive is KBs–MBs. Byte-identical record text to
    warc_parse's scan-side synthesis, so both entries share one
    oracle."""
    import gzip
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"bdf_warcgz_{key}.warc.gz")
    if os.path.exists(path):
        return path
    rows = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    blob = bytearray()
    for r in rows:
        did, text = r["doc_id"], r["text"]
        is404 = did % 5 == 0
        body = "not found" if is404 else f"<html><body><p>{text}</p></body></html>"
        http = (
            ("HTTP/1.1 404 Not Found\r\n" if is404 else "HTTP/1.1 200 OK\r\n")
            + (
                "Content-Type: text/plain\r\n"
                if is404
                else "Content-Type: text/html; charset=utf-8\r\n"
            )
            + "Server: synth\r\n\r\n"
            + body
        )
        record = (
            f"WARC-Type: response\r\nWARC-Target-URI: https://site{did % 7}"
            f".com/p/{did}\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n{http}"
        )
        blob += gzip.compress(("WARC/1.0\r\n" + record + "\r\n\r\n").encode("utf-8"))
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(blob))
    os.replace(tmp, path)
    return path


@q(
    "warc_gz_parse",
    WARC_AGG_ORACLE,
    "SPLITTABLE .warc.gz ingestion (r13 - the format Common Crawl "
    "actually ships: one gzip member per record, members "
    "concatenated; io.read_warc_gz): the warc_parse record matrix is "
    "re-packed as a multi-member archive, read back by byte-range "
    "tasks that re-synchronize on gzip member boundaries (magic scan "
    "+ CRC-validated inflate - no offset-index sidecar, no whole-file "
    "gzip straggler), parsed by the SAME parse_warc, and must land on "
    "the SAME aggregate oracle as the plain-text-split path. The "
    "split is forced to ~8 ranges at every scale, so the gate "
    "exercises mid-range re-synchronization, not just offset 0. Full "
    "SQL oracle",
)
def warc_gz_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from bigdata_foundation_spark.io import parse_warc, read_warc_gz

    path = _warc_gz_fixture(spark, sf_dir)
    size = os.path.getsize(path)
    split = max(16 * 1024, -(-size // 8))
    parsed = parse_warc(read_warc_gz(spark, path, target_split_bytes=split))
    return (
        parsed.groupBy("http_status", "content_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.countDistinct("target_uri").cast("bigint").alias("n_uris"),
        )
    )


@q(
    "warc_gz_roundtrip",
    WARC_AGG_ORACLE,
    "distributed WARC WRITE + splittable re-read (r13 - the other "
    "half of the crawl round trip: filter/dedup a crawl, ship the "
    "survivors back in the format the ecosystem consumes; "
    "io.write_warc_gz): the warc record matrix is synthesized "
    "scan-side, written by EXECUTORS as per-record gzip members (one "
    ".warc.gz file per partition, Common Crawl's exact layout), read "
    "back through the member-aware byte-range reader, parsed by the "
    "same parse_warc, and must land on the SAME aggregate oracle as "
    "the other two warc paths - any writer framing defect (version "
    "line, record terminator, member boundaries) breaks the match. "
    "Full SQL oracle",
)
def warc_gz_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from bigdata_foundation_spark.io import parse_warc, read_warc_gz, write_warc_gz

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    is404 = did % 5 == 0
    body = F.when(is404, F.lit("not found")).otherwise(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>"))
    )
    http = F.concat(
        F.when(is404, F.lit("HTTP/1.1 404 Not Found\r\n")).otherwise(
            F.lit("HTTP/1.1 200 OK\r\n")
        ),
        F.when(is404, F.lit("Content-Type: text/plain\r\n")).otherwise(
            F.lit("Content-Type: text/html; charset=utf-8\r\n")
        ),
        F.lit("Server: synth\r\n\r\n"),
        body,
    )
    record = F.concat(
        F.lit("WARC-Type: response\r\nWARC-Target-URI: https://site"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"bdf_warcgz_rt_{key}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_warc_gz(d.select(record.alias("record")).repartition(4), out_dir)
    size = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    split = max(16 * 1024, -(-size // 8))
    parsed = parse_warc(read_warc_gz(spark, out_dir, target_split_bytes=split))
    return (
        parsed.groupBy("http_status", "content_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.countDistinct("target_uri").cast("bigint").alias("n_uris"),
        )
    )


@q(
    "warc_cdx_selective",
    """
    SELECT CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN 'text/plain' ELSE 'text/html' END AS content_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN length('not found')
                         ELSE length('<html><body><p>' || text || '</p></body></html>')
                    END) AS BIGINT) AS body_bytes,
           CAST(COUNT(DISTINCT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_uris
    FROM documents
    WHERE doc_id % 7 IN (0, 1)
    GROUP BY 1, 2
    """,
    "CDX-indexed SELECTIVE member read (r13 - Common Crawl's cc-index "
    "pattern; io.write_warc_gz(index=True) + io.read_warc_gz_indexed): "
    "the writer records each gzip member's (file, offset, length, "
    "target_uri) in parquet sidecars at write time (same task, no "
    "second pass); the reader filters the INDEX on a URI predicate "
    "and seeks exactly to the ~2/7 of members that survive - the "
    "oracle re-derives the same aggregate from the base columns with "
    "the predicate applied, so an index offset/length defect or a "
    "predicate leak (extra/missing members) breaks the match. At "
    "crawl scale this is the difference between scanning 100 TB and "
    "reading only the matching members' byte ranges. Full SQL oracle",
)
def warc_cdx_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from bigdata_foundation_spark.io import (
        parse_warc,
        read_warc_gz_indexed,
        write_warc_gz,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    is404 = did % 5 == 0
    body = F.when(is404, F.lit("not found")).otherwise(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>"))
    )
    http = F.concat(
        F.when(is404, F.lit("HTTP/1.1 404 Not Found\r\n")).otherwise(
            F.lit("HTTP/1.1 200 OK\r\n")
        ),
        F.when(is404, F.lit("Content-Type: text/plain\r\n")).otherwise(
            F.lit("Content-Type: text/html; charset=utf-8\r\n")
        ),
        F.lit("Server: synth\r\n\r\n"),
        body,
    )
    record = F.concat(
        F.lit("WARC-Type: response\r\nWARC-Target-URI: https://site"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"bdf_warccdx_{key}")
    shutil.rmtree(out_dir, ignore_errors=True)
    write_warc_gz(
        d.select(record.alias("record")).repartition(4), out_dir, index=True
    )
    parsed = parse_warc(
        read_warc_gz_indexed(
            spark,
            out_dir,
            predicate=F.col("target_uri").rlike(r"^https://site[01]\.com/"),
            tasks=8,
        )
    )
    return (
        parsed.groupBy("http_status", "content_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.countDistinct("target_uri").cast("bigint").alias("n_uris"),
        )
    )


@q(
    "warc_cdx_build",
    """
    SELECT CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS http_status,
           CASE WHEN doc_id % 5 = 0 THEN 'text/plain' ELSE 'text/html' END AS content_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN length('not found')
                         ELSE length('<html><body><p>' || text || '</p></body></html>')
                    END) AS BIGINT) AS body_bytes,
           CAST(COUNT(DISTINCT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                      || '.com/p/' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_uris
    FROM documents
    WHERE doc_id % 7 IN (2, 3)
    GROUP BY 1, 2
    """,
    "CDX index built AFTER the fact over an index-less archive (r13 - "
    "Common Crawl's own archives arrive without sidecars; "
    "io.build_warc_cdx): the warc matrix is written WITHOUT an index, "
    "one distributed byte-range scan (the same member "
    "re-synchronization as read_warc_gz) mints the _cdx sidecars from "
    "observed (offset, length) walks, and a predicate-selective "
    "indexed read must then return exactly the matching members - "
    "pay the full scan once, query the archive forever. The oracle "
    "re-derives the predicate-restricted aggregate from the base "
    "columns, so a scan-derived offset/length defect breaks the "
    "match. Full SQL oracle",
)
def warc_cdx_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from bigdata_foundation_spark.io import (
        build_warc_cdx,
        parse_warc,
        read_warc_gz_indexed,
        write_warc_gz,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    is404 = did % 5 == 0
    body = F.when(is404, F.lit("not found")).otherwise(
        F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>"))
    )
    http = F.concat(
        F.when(is404, F.lit("HTTP/1.1 404 Not Found\r\n")).otherwise(
            F.lit("HTTP/1.1 200 OK\r\n")
        ),
        F.when(is404, F.lit("Content-Type: text/plain\r\n")).otherwise(
            F.lit("Content-Type: text/html; charset=utf-8\r\n")
        ),
        F.lit("Server: synth\r\n\r\n"),
        body,
    )
    record = F.concat(
        F.lit("WARC-Type: response\r\nWARC-Target-URI: https://site"),
        (did % 7).cast("string"),
        F.lit(".com/p/"),
        did.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), f"bdf_warccdxb_{key}")
    shutil.rmtree(out_dir, ignore_errors=True)
    # written WITHOUT an index — build_warc_cdx's scan is the subject
    write_warc_gz(d.select(record.alias("record")).repartition(4), out_dir)
    size = sum(
        os.path.getsize(os.path.join(out_dir, f))
        for f in os.listdir(out_dir)
        if f.endswith(".warc.gz")
    )
    build_warc_cdx(spark, out_dir, target_split_bytes=max(16 * 1024, -(-size // 8)))
    parsed = parse_warc(
        read_warc_gz_indexed(
            spark,
            out_dir,
            predicate=F.col("target_uri").rlike(r"^https://site[23]\.com/"),
            tasks=8,
        )
    )
    return (
        parsed.groupBy("http_status", "content_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("body")).cast("bigint").alias("body_bytes"),
            F.countDistinct("target_uri").cast("bigint").alias("n_uris"),
        )
    )


# --- robots.txt rules + filter (r12): crawl politeness --------------------

_ROBOTS_FIXTURE_NOTE = """r13 fixture: di%3==0 sections carry wildcard
(*.zip$), Allow-overrides-Disallow (/private vs /private/p2), and an
equal-specificity allow/disallow tie (/dup); di%3==1 tests a long
Allow beating 'Disallow: /'; di%3==2 has no wildcard-agent section."""


@q(
    "robots_filter_stats",
    """
    WITH urls AS (
      SELECT doc_id, doc_id % 6 AS di, (doc_id % 6) % 3 AS dc,
             CASE doc_id % 5
               WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN '/public/p' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN CASE WHEN doc_id % 2 = 0 THEN '/tmp/x' ELSE '/dup/d' END
               WHEN 3 THEN '/articles/' || CAST(doc_id AS VARCHAR)
               ELSE '/files/f' || CAST(doc_id % 7 AS VARCHAR) || '.zip' END AS path
      FROM documents
    ), kept AS (
      -- analytic keep/drop re-derivation, rule by rule (see the
      -- docstring): INDEPENDENT of the engine's parser/regex path
      SELECT doc_id, di FROM urls
      WHERE CASE
        WHEN dc = 2 THEN TRUE                        -- no '*' section
        WHEN dc = 1 THEN doc_id % 5 = 3              -- Allow: /articles/ beats Disallow: /
        ELSE CASE doc_id % 5
          WHEN 0 THEN starts_with(CAST(doc_id AS VARCHAR), '2')  -- Allow /private/p2 beats /private
          WHEN 1 THEN TRUE                           -- no rule matches /public
          WHEN 2 THEN doc_id % 2 = 1                 -- /tmp/ blocked; /dup tie -> allow
          WHEN 3 THEN TRUE                           -- no rule matches /articles
          ELSE FALSE END                             -- /*.zip$ wildcard blocks
      END
    )
    SELECT 'site' || CAST(di AS VARCHAR) || '.com' AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY 1
    """,
    "robots.txt crawl-politeness filtering (r12; r13 adds RFC 9309 "
    "wildcard '*'/'$' rules, Allow lines, and longest-match-allow-"
    "wins precedence - web.robots_rules + web.robots_filter): "
    "per-domain robots.txt content is synthesized scan-side (wildcard "
    "patterns, Allow overrides, an equal-specificity tie, empty "
    "disallows, specific-agent sections that must NOT emit rules, "
    "comments), parsed into typed (rule, prefix, pattern, spec) rows "
    "via one line explode + one domain-keyed window, then URLs are "
    "filtered by ONE broadcast left-outer equi-join whose match + "
    "precedence run scan-side (filter + array_max over (spec, "
    "is_allow) structs). The oracle re-derives keep/drop per "
    "(di, path-class) ANALYTICALLY from the planted rules - fully "
    "independent of the engine's parser and regex translation - so "
    "any wildcard/precedence defect breaks the match. Full SQL oracle",
)
def robots_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    di = (did % 6).cast("bigint")
    _dv = F.col("_di")
    robots = (
        d.select(di.alias("_di"))
        .distinct()
        .select(
            F.concat(F.lit("site"), _dv.cast("string"), F.lit(".com")).alias("domain"),
            F.concat(
                F.lit("User-agent: google\nDisallow: /g\n"),
                F.when(
                    _dv % 3 == 0,
                    F.lit(
                        "User-agent: *\n# private areas\nDisallow: /private\n"
                        "Allow: /private/p2\nDisallow: /tmp/\n"
                        "Disallow: /*.zip$\nAllow: /dup\nDisallow: /dup\n"
                        "Disallow:\n"
                    ),
                )
                .when(
                    _dv % 3 == 1,
                    F.lit("User-agent: *\nDisallow: /\nAllow: /articles/\n"),
                )
                .otherwise(F.lit("User-agent: onlybot\nDisallow: /z\n")),
                F.lit("User-agent: bing\nDisallow: /b"),
            ).alias("robots_txt"),
        )
    )
    rules = W.robots_rules(robots)
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/private/p"), did.cast("string")))
        .when(did % 5 == 1, F.concat(F.lit("/public/p"), did.cast("string")))
        .when(
            did % 5 == 2,
            F.when(did % 2 == 0, F.lit("/tmp/x")).otherwise(F.lit("/dup/d")),
        )
        .when(did % 5 == 3, F.concat(F.lit("/articles/"), did.cast("string")))
        .otherwise(
            F.concat(F.lit("/files/f"), (did % 7).cast("string"), F.lit(".zip"))
        )
    )
    urls = d.select(
        F.concat(
            F.lit("https://site"), di.cast("string"), F.lit(".com"), path
        ).alias("url")
    )
    kept = W.robots_filter(urls, rules)
    return (
        kept.select(W.registered_domain("url").alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )


@q(
    "robots_crawl_delay_stats",
    """
    WITH doms AS (SELECT DISTINCT doc_id % 6 AS di FROM documents)
    SELECT 'site' || CAST(di AS VARCHAR) || '.com' AS domain,
           CASE WHEN di % 3 = 0 THEN 4.0 ELSE 1.5 END AS crawl_delay
    FROM doms WHERE di % 3 <> 2
    """,
    "robots.txt Crawl-delay extraction (r13 - the rate-limit half of "
    "crawl politeness; web.robots_crawl_delay): per-domain robots.txt "
    "is synthesized with Crawl-delay lines planted in specific-agent "
    "sections (must NOT emit), wildcard sections with a later "
    "override (last wins), and domains without one (ABSENT rows, not "
    "defaults); the oracle re-derives the per-domain-class value "
    "analytically. Same one-explode + one-window shape as "
    "robots_rules. Full SQL oracle",
)
def robots_crawl_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    di = (F.col("doc_id") % 6).cast("bigint")
    _dv = F.col("_di")
    robots = (
        d.select(di.alias("_di"))
        .distinct()
        .select(
            F.concat(F.lit("site"), _dv.cast("string"), F.lit(".com")).alias("domain"),
            F.concat(
                F.lit("User-agent: google\nDisallow: /g\nCrawl-delay: 9\n"),
                F.when(
                    _dv % 3 == 0,
                    F.lit(
                        "User-agent: *\nDisallow: /private\n"
                        "Crawl-delay: 2.5\nCrawl-delay: 4\n"
                    ),
                )
                .when(_dv % 3 == 1, F.lit("User-agent: *\nCrawl-delay: 1.5\n"))
                .otherwise(F.lit("User-agent: onlybot\nCrawl-delay: 7\n")),
                F.lit("User-agent: bing\nDisallow: /b"),
            ).alias("robots_txt"),
        )
    )
    return W.robots_crawl_delay(robots)


@q(
    "domain_cap_sample",
    f"""
    WITH u AS (
      SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents
    ), hosts AS (
      SELECT doc_id,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#@]+)', 1)),
               '^\\[|\\]$', '', 'g') AS host0
      FROM u
    ), hostns AS (
      SELECT doc_id, host0,
             regexp_replace(host0, '^www\\.', '', 'g') AS hostn
      FROM hosts
    ), doms AS (
      SELECT doc_id, {W.psl_domain_sql("host0", "hostn")} AS domain
      FROM hostns
    )
    SELECT doc_id, domain FROM (
      SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain
                                ORDER BY md5('domain_cap' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM doms) t
    WHERE rn <= 5
    """,
    "per-domain page cap (r11 - the RefinedWeb anti-spam composition; "
    "r13: PSL-backed registered_domain with wildcard/exception hosts "
    "in the matrix) - registered_domain + the deterministic md5-ordered per-group "
    "downsample): keep at most 5 pages per eTLD+1, reproducible across "
    "runs/engines. Full SQL oracle",
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    urls = d.select("doc_id", _synth_url("doc_id").alias("url"))
    with_dom = urls.select("doc_id", W.registered_domain("url").alias("domain"))
    return R.balanced_sample(with_dom, "domain", "doc_id", 5, salt="domain_cap")

@q(
    "dedup_image_phash",
    PIPELINE_GOLDEN_SQL["dedup_image_phash"],
    "IMAGE near-duplicate detection (r11 - the image sibling of text "
    "SimHash): real BMP decode -> 64-bit dHash perceptual fingerprint "
    "(integer nearest-neighbor 9x8 gradient grid) -> pigeonhole "
    "Hamming pairs over a corpus with PLANTED near-dup images (local "
    "3x3 edits). Pinned golden from the bytes-free replay with an "
    "independent scalar dHash - the encode/decode/hash path must land "
    "on exactly these pairs",
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    # n_base = half the corpus keeps the planted structure
    # scale-invariant (exactly one near-dup partner per base) — a
    # fixed n_base degenerates at 10x scale into 20-member identical
    # groups and the TRUE pair count goes quadratic (output-bound,
    # like the simhash sf1 cell). At the gate scale (500 docs) this
    # is the golden's n_base = 250. Read the row count from the
    # parquet FOOTER, driver-side (r12 advice fix: an eager
    # d.count() here ran a full Spark job at DataFrame-BUILD time,
    # so even plan-only/explain paths paid a scan); fall back to
    # the Spark count only if the footer is unreadable (e.g. a
    # non-file source in tests).
    try:
        import pyarrow.parquet as _pq

        n_docs = _pq.read_metadata(f"{sf_dir}/documents.parquet").num_rows
    except Exception:
        n_docs = d.count()
    n_base = max(1, n_docs // 2)
    media = M.synth_image_pair_table(d, n_base=n_base)
    hashes = M.image_dhash_table(media)
    pairs = D.hash64_neardup_pairs(hashes, id_col="media_id", hash_col="dhash")
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))

@q(
    "fixed_width_parse",
    """
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_date,
           CAST(MAX(o_custkey) AS BIGINT) AS max_cust
    FROM orders GROUP BY o_orderpriority
    """,
    "fixed-width feed-file parsing (r11 - the COBOL-copybook source "
    "format, io.parse_fixed_width): a fixed-width line synthesized "
    "scan-side from the base columns round-trips through the real "
    "substring/trim/cast parser back to typed fields; the oracle "
    "re-derives the aggregate from the base columns directly, so any "
    "offset/trim/cast defect breaks the match. Full SQL oracle",
)
def fixed_width_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_foundation_spark.io import parse_fixed_width

    o = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 10, " "),
        F.lpad(F.col("o_custkey").cast("string"), 10, " "),
        F.rpad(F.col("o_orderpriority"), 15, " "),
        F.rpad(F.col("o_orderdate").cast("string"), 10, " "),
    )
    lines = o.select(line.alias("line"))
    parsed = parse_fixed_width(
        lines,
        "line",
        [
            ("orderkey", 1, 10, "bigint"),
            ("custkey", 11, 10, "bigint"),
            ("priority", 21, 15, "string"),
            ("orderdate", 36, 10, "date"),
        ],
    )
    return parsed.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("orderdate").cast("string").alias("first_date"),
        F.max("custkey").cast("bigint").alias("max_cust"),
    )

