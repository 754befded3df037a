"""Oracle-checked query catalog: every relational/analytic operator class
from SURVEY.md §2 exercised on the driver's TPC-H-ish tables, each with a
DuckDB-equivalent ANSI-SQL oracle (driver contract in __spark_entry__.py).

Determinism rules used throughout (so the driver's value-hash matches):
- money aggregates: decimal(18,2) arithmetic (exact, order-independent),
  ``round(…, 2)`` then cast double — bit-identical across engines;
- timestamps returned as formatted strings;
- every computed column aliased identically in Spark and SQL;
- LIMIT/top-k queries carry total tie-breaks.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mizzounewscrawler_spark.functions.text import (
    BPE_ISH_RE,
    EN_STOPWORDS,
    LANG_MARKERS,
    bpe_ish_token_count_expr,
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
)
from mizzounewscrawler_spark.lake import read_parquet


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _dec(col, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None → rows-only check
    survey_ref: str = ""


# --------------------------------------------------------------------------
# aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


def q_pricing_summary(spark, sf):
    """A2/A4 status-style rollup (TPC-H Q1 shape) with exact decimal money."""
    li = t(spark, sf, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(cast(l_quantity as decimal(18,2))), 2)::double AS sum_qty,
       round(sum(cast(l_extendedprice as decimal(18,2))), 2)::double AS sum_base_price,
       round(sum(cast(l_extendedprice as decimal(18,2)) *
                 (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2)::double
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf):
    """A1 per-domain available-work counts → top-N with full tie-break."""
    o = t(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("order_count"))
        .orderBy(F.desc("order_count"), F.asc("o_custkey"))
        .limit(20)
    )


SQL_TOP_CUSTOMERS = """
SELECT o_custkey, count(*) AS order_count
FROM orders GROUP BY o_custkey
ORDER BY order_count DESC, o_custkey ASC LIMIT 20
"""


def q_status_counts(spark, sf):
    """A2 stage-pending counts as one groupBy (vs reference's 6 queries)."""
    return t(spark, sf, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("n")
    )


SQL_STATUS_COUNTS = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"


def q_string_agg(spark, sf):
    """A3 entity string-agg: sorted-distinct concat per group."""
    o = t(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), "; ").alias(
            "priorities"
        ),
        F.count("*").alias("n_orders"),
    )


SQL_STRING_AGG = """
SELECT o_custkey,
       string_agg(DISTINCT o_orderpriority, '; ' ORDER BY o_orderpriority) AS priorities,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


def q_last_processed(spark, sf):
    """A5 last-processed-per-source (one aggregate for all, vs reference's
    per-source N queries, scheduling.py:65-98)."""
    o = t(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date")
    )


SQL_LAST_PROCESSED = """
SELECT o_custkey, strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date
FROM orders GROUP BY o_custkey
"""


# --------------------------------------------------------------------------
# joins (SURVEY §2.3)
# --------------------------------------------------------------------------


def q_anti_join(spark, sf):
    """J2 frontier ▷ articles: customers with no orders (left_anti)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_report_join(spark, sf):
    """J1/J5 county-report-style multi-join: facts ⋈ broadcast dims + agg."""
    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region")
    o = t(spark, sf, "orders")
    dims = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        o.join(dims, o["o_custkey"] == dims["c_custkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
        )
    )


SQL_REPORT_JOIN = """
SELECT r_name, n_name, count(*) AS n_orders,
       round(sum(cast(o_totalprice as decimal(18,2))), 2)::double AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_semi_join(spark, sf):
    """J3-style membership: parts that appear in any lineitem (semi join)."""
    p = t(spark, sf, "part")
    li = t(spark, sf, "lineitem")
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


SQL_SEMI_JOIN = """
SELECT p_brand, count(*) AS n_parts FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_brand
"""


def q_dataset_scope(spark, sf):
    """S1 dataset scoping: the datasets/dataset_sources M:N broadcast dim +
    semi-join filter (operators.datasets.scope_sources — reference
    dataset_label filter, src/crawler/discovery.py:2071-2326).  Suppliers
    stand in for sources; the 'mod3' dataset's members are every third one."""
    from mizzounewscrawler_spark.operators.datasets import scope_sources

    sup = t(spark, sf, "supplier")
    seeds = sup.select(
        F.col("s_suppkey").alias("source_id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
    )
    dataset_sources = sup.where(F.col("s_suppkey") % 3 == 0).select(
        F.lit("mod3").alias("dataset_label"),
        F.col("s_suppkey").alias("source_id"),
    )
    return scope_sources(seeds, dataset_sources, "mod3")


SQL_DATASET_SCOPE = """
SELECT s_suppkey AS source_id, s_name AS name, s_nationkey AS nationkey
FROM supplier
WHERE s_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 3 = 0)
"""


def q_geo_radius_join(spark, sf):
    """U7 publisher-gazetteer radius join: the GRID-BUCKETED spatial join
    (operators.geo.radius_places_join — cell equi-join + exact
    haversine, no cross join) vs DuckDB's brute-force cross-join mirror:
    the oracle checks the optimization preserves exact semantics.
    Deterministic synthetic coordinates derived from customer/nation keys."""
    from mizzounewscrawler_spark.operators.geo import radius_places_join

    c = t(spark, sf, "customer")
    n = t(spark, sf, "nation")
    places = c.select(
        F.col("c_name").alias("place"),
        F.lit("poi").alias("category"),
        (F.lit(38.0) + (F.col("c_custkey") % 100) * 0.05).alias("lat"),
        (F.lit(-95.0) + (F.col("c_custkey") % 73) * 0.05).alias("lon"),
    )
    pubs = n.select(
        F.col("n_name").alias("publisher"),
        (F.lit(38.0) + (F.col("n_nationkey") % 10) * 0.5).alias("lat"),
        (F.lit(-95.0) + (F.col("n_nationkey") % 7) * 0.5).alias("lon"),
        F.lit(30.0).alias("radius_miles"),
    )
    gz = radius_places_join(pubs, places)
    return gz.groupBy("publisher").agg(F.count(F.lit(1)).alias("n_places"))


SQL_GEO_RADIUS = """
WITH places AS (
  SELECT c_name AS place,
         38.0 + (c_custkey % 100) * 0.05 AS lat,
         -95.0 + (c_custkey % 73) * 0.05 AS lon
  FROM customer
), pubs AS (
  SELECT n_name AS publisher,
         38.0 + (n_nationkey % 10) * 0.5 AS lat,
         -95.0 + (n_nationkey % 7) * 0.5 AS lon
  FROM nation
)
SELECT publisher, count(*) AS n_places
FROM pubs p JOIN places q
  ON 2 * 3958.8 * asin(sqrt(
       sin(radians(q.lat - p.lat) / 2) * sin(radians(q.lat - p.lat) / 2)
       + cos(radians(p.lat)) * cos(radians(q.lat))
         * sin(radians(q.lon - p.lon) / 2) * sin(radians(q.lon - p.lon) / 2)
     )) <= 30.0
GROUP BY publisher
"""


# --------------------------------------------------------------------------
# windows / ranking (SURVEY §2.5, §2.6)
# --------------------------------------------------------------------------


def q_latest_per_key(spark, sf):
    """J4 latest-label-per-article: row_number over (key, ts desc)."""
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


SQL_LATEST_PER_KEY = """
SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
"""


def q_per_host_cap(spark, sf):
    """P9/A7 per-host batch cap: top-3 rows per key by deterministic order."""
    o = t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


SQL_PER_HOST_CAP = """
SELECT o_custkey, o_orderkey, rn
FROM (SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn <= 3
"""


def q_sessionize(spark, sf):
    """Session windows (streaming-state analog done as batch windows):
    new session when gap from previous event > 30 min; sessions per user."""
    e = t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


SQL_SESSIONIZE = """
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM (SELECT user_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id)) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events) GROUP BY user_id
"""


# --------------------------------------------------------------------------
# filters / predicates / scalar functions (SURVEY §2.2, §2.8)
# --------------------------------------------------------------------------


def q_recency_filter(spark, sf):
    """F6/P12 late-data window: drop rows older than the cutoff."""
    li = t(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("qty"),
        )
    )


SQL_RECENCY = """
SELECT l_returnflag, count(*) AS n,
       round(sum(cast(l_quantity as decimal(18,2))), 2)::double AS qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
"""


def q_rlike_panel(spark, sf):
    """F2/F3/F9 regex-panel filters: pattern-classified counts per source."""
    d = t(spark, sf, "documents")
    pat = r"(budget|council|election)"
    return (
        d.where(F.lower(F.col("text")).rlike(pat))
        .groupBy("source")
        .agg(F.count("*").alias("n_matching"))
    )


SQL_RLIKE = """
SELECT source, count(*) AS n_matching FROM documents
WHERE regexp_matches(lower(text), '(budget|council|election)')
GROUP BY source
"""


# O5: wire/content-type priority pattern table — first match in ORDER BY
# (priority, id), reference src/crawler/__init__.py:4516 +
# src/utils/content_type_detector.py:333.  The bands overlap on purpose:
# a "budget hearing" doc also matches the lower-priority bare "budget"
# row, so the (priority, id) order is observable in the output counts.
# Row 5 is inactive and must be skipped (it would otherwise match all).
CT_PRIORITY_ROWS: list[tuple] = [
    (1, "content", "windowed_agg", r"window \w+ agg|agg \w+ window", 10, 0.9, True),
    (2, "content", "fast_scan", r"fast scan|scan fast", 10, 0.9, True),
    (3, "content", "scan_doc", r"scan", 20, 0.6, True),
    (4, "content", "join_doc", r"join", 20, 0.6, True),
    (5, "content", "everything", r".", 5, 0.1, False),
]


def q_content_type_priority(spark, sf):
    """O5: classify documents by a broadcast priority-pattern table —
    first match by (priority, id) — and count per assigned type."""
    from mizzounewscrawler_spark.operators.content_type import (
        PATTERN_TABLE_SCHEMA,
        pattern_ladder_from_table,
    )

    d = t(spark, sf, "documents")
    pats = spark.createDataFrame(CT_PRIORITY_ROWS, PATTERN_TABLE_SCHEMA)
    ctype, _conf = pattern_ladder_from_table(
        pats, {"content": F.lower(F.col("text"))}
    )
    return (
        d.withColumn("content_type", ctype)
        .groupBy("content_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _sql_content_type() -> str:
    """DuckDB mirror generated from the SAME pattern rows: first-match =
    CASE arm order when arms are sorted by (priority, id)."""
    rows = sorted(
        (r for r in CT_PRIORITY_ROWS if r[6]), key=lambda r: (r[4], r[0])
    )
    whens = " ".join(
        f"WHEN regexp_matches(lower(text), '{pat}') THEN '{ct}'"
        for (_id, _st, ct, pat, _pr, _c, _a) in rows
    )
    return (
        f"SELECT CASE {whens} ELSE 'news' END AS content_type, "
        "count(*) AS n FROM documents GROUP BY 1"
    )


def q_json_extract(spark, sf):
    """C12 JSON access: get_json_object over the events props column."""
    e = t(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count("*").alias("n")
    )


SQL_JSON = """
SELECT event_type, CAST(sum(cast(json_extract_string(props, '$.k') as int)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_feed_date_parse(spark, sf):
    """C18/C9: feed-date parse + pinned future-guard + F6 recency window.

    events.ts plays the RSS pubDate role: format to the reference's string
    shape, re-parse with an explicit format (no locale), null out dates past
    the pinned clock (REFERENCE_TS 2024-01-15 + 90 d guard — here the guard
    cutoff is the clock itself so the guard actually fires on this data),
    and count the F6-recent (>= clock - 7 d) ones.
    """
    e = t(spark, sf, "events")
    s = F.date_format("ts", "dd MMM yyyy HH:mm:ss")
    parsed = F.to_timestamp(s, "dd MMM yyyy HH:mm:ss")
    guarded = F.when(
        parsed <= F.lit("2024-01-15 12:00:00").cast("timestamp"), parsed
    )
    return (
        e.select("event_type", guarded.alias("pd"))
        .groupBy("event_type")
        .agg(
            F.count("pd").alias("n_dated"),
            F.sum(
                F.when(F.col("pd") >= F.lit("2024-01-08 12:00:00"), 1).otherwise(0)
            ).cast("bigint").alias("n_recent"),
            # string-typed so pandas timestamp-resolution (ns vs us) can't
            # perturb the driver's value hash
            F.date_format(F.max("pd"), "yyyy-MM-dd HH:mm:ss").alias("latest"),
        )
    )


SQL_FEED_DATE = """
SELECT event_type,
       count(pd) AS n_dated,
       CAST(sum(CASE WHEN pd >= TIMESTAMP '2024-01-08 12:00:00' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recent,
       strftime(max(pd), '%Y-%m-%d %H:%M:%S') AS latest
FROM (
  SELECT event_type,
         CASE WHEN p <= TIMESTAMP '2024-01-15 12:00:00' THEN p END AS pd
  FROM (SELECT event_type,
               strptime(strftime(ts, '%d %b %Y %H:%M:%S'),
                        '%d %b %Y %H:%M:%S') AS p
        FROM events)
) GROUP BY event_type
"""


def q_hash_keys(spark, sf):
    """C3/C6 content hashing: sha256 of text per doc (reference parity keys)."""
    d = t(spark, sf, "documents")
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha256"))


SQL_HASH = "SELECT doc_id, sha256(text) AS text_sha256 FROM documents"


def q_hourly_rollup(spark, sf):
    """P13 micro-batch/tumbling-window analog: per-hour per-type rollup."""
    e = t(spark, sf, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum(_dec("value")), 2).cast("double").alias("total_value"),
    )


SQL_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n,
       round(sum(cast(value as decimal(18,2))), 2)::double AS total_value
FROM events GROUP BY 1, 2
"""


def q_multires_rollup(spark, sf):
    """Hypertable rollup cascade (continuous-aggregate pattern): the DAILY
    rollup is composed from the HOURLY rollup's partial aggregates, never
    rescanning raw events — at 100 TB the coarser grain reads 1/24th of the
    finer one's output instead of the raw table.  Counts and exact decimal
    sums compose losslessly, so the oracle computes daily DIRECTLY from raw
    events: a value-hash match proves the cascade loses nothing."""
    e = t(spark, sf, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("sv"),  # unrounded partial: composes exactly
    )
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", F.col("hour")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("sv"), 2).cast("double").alias("total_value"),
    )


SQL_MULTIRES = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n,
       round(sum(cast(value as decimal(18,2))), 2)::double AS total_value
FROM events GROUP BY 1, 2
"""


def q_due_cadence(spark, sf):
    """P1 due-cadence: keys whose latest activity is older than the cutoff."""
    o = t(spark, sf, "orders")
    last = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_dt"))
    return last.where(F.col("last_dt") < F.lit("1997-01-01")).select(
        "o_custkey", F.date_format("last_dt", "yyyy-MM-dd").alias("last_order_date")
    )


SQL_DUE = """
SELECT o_custkey, strftime(last_dt, '%Y-%m-%d') AS last_order_date
FROM (SELECT o_custkey, max(o_orderdate) AS last_dt FROM orders GROUP BY o_custkey)
WHERE last_dt < TIMESTAMP '1997-01-01'
"""


# --------------------------------------------------------------------------
# set ops (SURVEY §2.7)
# --------------------------------------------------------------------------


def q_union_dedup(spark, sf):
    """Union of two discovery-method outputs + dedup (RSS ∪ newspaper)."""
    o = t(spark, sf, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.where(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.unionByName(b).distinct()


SQL_UNION = """
SELECT DISTINCT o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
)
"""


# --------------------------------------------------------------------------
# dedup / text analysis / similarity (training-data operators)
# --------------------------------------------------------------------------


def q_exact_dedup(spark, sf):
    """Exact content dedup: keep min doc_id per identical-text group (J8)."""
    d = t(spark, sf, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_llm_enrich(spark, sf):
    """U8 LLM enrichment (deterministic extractive backend): the rendered
    newsroom prompt (reference article_pipeline.py:22-32,108-127 — body
    truncated at 4000 chars, fields defaulted) and the 3-sentence
    extractive summary the fake provider produces, both as pure JVM
    expressions (see operators/enrichment.py)."""
    from mizzounewscrawler_spark.operators.enrichment import (
        FAKE_PROVIDER_NAME,
        render_prompt_expr,
        summarize_expr,
    )

    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        summarize_expr(F.col("text")).alias("llm_summary"),
        F.lit(FAKE_PROVIDER_NAME).alias("llm_provider"),
        render_prompt_expr(
            F.lit(None).cast("string"),
            F.lit(None).cast("string"),
            F.lit(None).cast("timestamp"),
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")),
            F.col("text"),
        ).alias("prompt"),
    )


_LLM_TMPL_HEAD = (
    "You are assisting a newsroom by producing a concise summary of "
    "the following article. Provide a three sentence summary focusing on "
    "the who, what, where, and why. Include any key impacts on the "
    "community and note if the story highlights civic issues."
)

SQL_LLM_ENRICH = f"""
WITH body AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(coalesce(text, ''))) > 4000
              THEN substr(trim(coalesce(text, '')), 1, 4000) || chr(10) || '...'
              ELSE trim(coalesce(text, '')) END AS b
  FROM documents)
SELECT doc_id,
       array_to_string(list_slice(string_split(coalesce(text, ''), '. '), 1, 3), '. ')
           AS llm_summary,
       'extractive-fake' AS llm_provider,
       '{_LLM_TMPL_HEAD}' || chr(10) || chr(10) ||
       'Title: (untitled)' || chr(10) ||
       'Author: unknown' || chr(10) ||
       'Published: unknown' || chr(10) ||
       'URL: doc://' || doc_id || chr(10) || chr(10) ||
       'Article Body:' || chr(10) || b || chr(10) AS prompt
FROM body
"""


def q_token_stats(spark, sf):
    """Token counting (whitespace + BPE-ish regex) per language."""
    d = t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.sum(token_count_expr(F.col("text"))).alias("ws_tokens"),
        F.sum(bpe_ish_token_count_expr(F.col("text"))).alias("bpe_ish_tokens"),
        F.count("*").alias("n_docs"),
    )


SQL_TOKEN_STATS = f"""
SELECT lang,
       CAST(sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{BPE_ISH_RE}'))) AS BIGINT) AS bpe_ish_tokens,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""

_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def q_quality_scores(spark, sf):
    """Quality scoring: the documented composite formula per doc."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.round(stopword_ratio_expr(F.col("text")), 6).alias("stopword_ratio"),
        quality_score_expr(F.col("text")).alias("quality"),
    )


SQL_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text) = '' THEN []::varchar[]
              ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                  x -> lower(x)) END AS tk
  FROM documents
), base AS (
  SELECT doc_id, text,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({_STOPS_SQL}, x)))::double
                   / len(tk)::double
              ELSE 0.0 END AS sw,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^.,;:!?''"()\\-]', '', 'g'))::double
                   / length(text)::double
              ELSE 0.0 END AS pr
  FROM toks
)
SELECT doc_id, round(sw, 6) AS stopword_ratio,
       round(greatest(least(
           least(length(text)::double / 2000.0, 1.0) * 0.5
         + least(sw * 2.5, 1.0) * 0.5
         - greatest(pr - 0.15, 0.0) * 2.0, 1.0), 0.0), 4) AS quality
FROM base
"""


def q_ann_topk(spark, sf):
    """Similarity search: exact cosine top-10 vs the vec_id=0 query vector."""
    from mizzounewscrawler_spark.operators.similarity import cosine_topk

    emb = t(spark, sf, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(
        emb.where(F.col("vec_id") > 0), [float(x) for x in qvec], k=10
    )


SQL_ANN_TOPK = """
WITH q AS (SELECT embedding::double[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding::double[], qv) /
             (sqrt(list_dot_product(embedding::double[], embedding::double[])) *
              sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q WHERE vec_id > 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_embedding_label_centroids(spark, sf):
    """Vector aggregation: per-label mean norm (array math, JVM-side)."""
    from mizzounewscrawler_spark.operators.similarity import norm_expr

    emb = t(spark, sf, "embeddings")
    return emb.groupBy("label").agg(
        F.round(
            F.avg(norm_expr(F.col("embedding").cast("array<double>"))), 6
        ).alias("avg_norm"),
        F.count("*").alias("n"),
    )


SQL_CENTROIDS = """
SELECT label,
       round(avg(sqrt(list_dot_product(embedding::double[], embedding::double[]))), 6)
           AS avg_norm,
       count(*) AS n
FROM embeddings GROUP BY label
"""


def q_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard near-dup pairs ≥ 0.3 (inverted-index join, not a
    cross product — the exact-verify baseline for MinHash/SimHash)."""
    from mizzounewscrawler_spark.operators.dedup import ngram_jaccard_pairs

    d = t(spark, sf, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.3)


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(tk[i:i+2], ' '))) AS shingles
  FROM toks WHERE len(tk) >= 3
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
posting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cmn
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(cmn::double / (sa.n + sb.n - cmn), 6) AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(cmn::double / (sa.n + sb.n - cmn), 6) >= 0.3
"""


def _verify_url_expr():
    """Deterministic URL zoo from doc_id covering every verification-chain
    branch (shortener, non-news, wire url, blocklist, allowlist × 3,
    extension, sniffer fallback × 2, dynamic-pattern shapes)."""
    i = F.col("doc_id")
    return (
        F.when(i % 12 == 0, F.concat(F.lit("https://bit.ly/x"), i))
        .when(i % 12 == 1, F.concat(F.lit("https://www.youtube.com/watch?v="), i))
        .when(i % 12 == 2, F.concat(F.lit("https://apnews.com/article/"), i))
        .when(i % 12 == 3, F.concat(F.lit("https://www.site.news.test/search/q"), i))
        .when(i % 12 == 4, F.concat(F.lit("https://www.site.news.test/news/story-"), i))
        .when(i % 12 == 5, F.concat(F.lit("https://www.site.news.test/2024/01/15/t-"), i))
        .when(i % 12 == 6, F.concat(F.lit("https://www.site.news.test/story/"), i))
        .when(i % 12 == 7, F.concat(F.lit("https://www.site.news.test/img"), i, F.lit(".jpg")))
        .when(i % 12 == 8, F.concat(F.lit("https://www.site.news.test/page-x"), i))
        .when(i % 12 == 9, F.concat(F.lit("https://www.site.news.test/y"), i))
        .when(i % 12 == 10, F.concat(F.lit("https://www.site.news.test/tag/t"), i))
        .otherwise(F.concat(F.lit("https://www.site.news.test/z"), i, F.lit("-4567")))
    )


def q_url_verification(spark, sf):
    """F3/F5/F9/U4: the verification chain (blocklist → allowlist → sniffer
    stub), oracle-checked end-to-end — the md5-parity sniffer stub was
    chosen precisely so DuckDB can mirror the whole chain."""
    from mizzounewscrawler_spark.operators.verification import verify_status_expr

    d = t(spark, sf, "documents")
    return (
        d.select("doc_id", _verify_url_expr().alias("url"))
        .withColumn("verify_status", verify_status_expr(F.col("url")))
    )


def q_likely_article_filter(spark, sf):
    """F2: crawler-side article-likeness — default substring blocklist +
    per-host include/exclude site-rule tokens (broadcast dimension)."""
    from mizzounewscrawler_spark.operators.verification import (
        filter_likely_articles,
    )

    d = t(spark, sf, "documents")
    i = F.col("doc_id")
    url = (
        F.when(i % 8 == 0, F.concat(F.lit("https://www.a.test/show/x"), i))
        .when(i % 8 == 1, F.concat(F.lit("https://www.a.test/classifieds/"), i))
        .when(i % 8 == 2, F.concat(F.lit("https://www.a.test/news/story-"), i))
        .when(i % 8 == 3, F.concat(F.lit("https://www.b.test/news/story-"), i))
        .when(i % 8 == 4, F.concat(F.lit("https://www.b.test/sports/game-"), i))
        .when(i % 8 == 5, F.concat(F.lit("https://www.b.test/sports/gallery-"), i))
        .when(i % 8 == 6, F.concat(F.lit("https://www.c.test/story/"), i))
        .otherwise(F.concat(F.lit("https://www.a.test/page/"), i))
    )
    cand = d.select("doc_id", url.alias("url")).withColumn(
        "host", F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    )
    rules = spark.createDataFrame(
        [("www.b.test", ["/sports/"], ["gallery-"])],
        "host string, include_patterns array<string>, exclude_patterns array<string>",
    )
    return filter_likely_articles(cand, rules).select("doc_id", "url")


def _sql_likely_article() -> str:
    from mizzounewscrawler_spark.operators.verification import (
        CRAWLER_SKIP_SUBSTRINGS,
    )

    block = " OR ".join(f"url LIKE '%{s}%'" for s in CRAWLER_SKIP_SUBSTRINGS)
    return f"""
WITH urls AS (
  SELECT doc_id,
         CASE doc_id % 8
           WHEN 0 THEN 'https://www.a.test/show/x' || doc_id
           WHEN 1 THEN 'https://www.a.test/classifieds/' || doc_id
           WHEN 2 THEN 'https://www.a.test/news/story-' || doc_id
           WHEN 3 THEN 'https://www.b.test/news/story-' || doc_id
           WHEN 4 THEN 'https://www.b.test/sports/game-' || doc_id
           WHEN 5 THEN 'https://www.b.test/sports/gallery-' || doc_id
           WHEN 6 THEN 'https://www.c.test/story/' || doc_id
           ELSE 'https://www.a.test/page/' || doc_id
         END AS url,
         regexp_extract(CASE doc_id % 8
           WHEN 0 THEN 'https://www.a.test/show/x' || doc_id
           WHEN 1 THEN 'https://www.a.test/classifieds/' || doc_id
           WHEN 2 THEN 'https://www.a.test/news/story-' || doc_id
           WHEN 3 THEN 'https://www.b.test/news/story-' || doc_id
           WHEN 4 THEN 'https://www.b.test/sports/game-' || doc_id
           WHEN 5 THEN 'https://www.b.test/sports/gallery-' || doc_id
           WHEN 6 THEN 'https://www.c.test/story/' || doc_id
           ELSE 'https://www.a.test/page/' || doc_id
         END, '^https?://([^/]+)', 1) AS host
  FROM documents
)
SELECT doc_id, url FROM urls
WHERE NOT ({block})
  AND NOT (host = 'www.b.test' AND url NOT LIKE '%/sports/%')
  AND NOT (host = 'www.b.test' AND url LIKE '%gallery-%')
"""


# A9 telemetry depth: deterministic status/method zoo from doc_id so the
# rollups are oracle-checkable (same trick as the verification URL zoo)
_TEL_STATUS = (
    "CASE doc_id % 7 WHEN 0 THEN 'failed' WHEN 1 THEN 'paywall' "
    "WHEN 2 THEN 'proxy_blocked' WHEN 3 THEN 'wire' WHEN 4 THEN 'feed' "
    "ELSE 'extracted' END"
)
_TEL_METHOD = (
    "CASE doc_id % 3 WHEN 0 THEN 'rss_feed' WHEN 1 THEN 'newspaper4k' "
    "ELSE 'storysniffer' END"
)


def _tel_articles(spark, sf):
    d = t(spark, sf, "documents")
    i = F.col("doc_id")
    status = (
        F.when(i % 7 == 0, F.lit("failed"))
        .when(i % 7 == 1, F.lit("paywall"))
        .when(i % 7 == 2, F.lit("proxy_blocked"))
        .when(i % 7 == 3, F.lit("wire"))
        .when(i % 7 == 4, F.lit("feed"))
        .otherwise(F.lit("extracted"))
    )
    method = (
        F.when(i % 3 == 0, F.lit("rss_feed"))
        .when(i % 3 == 1, F.lit("newspaper4k"))
        .otherwise(F.lit("storysniffer"))
    )
    return d.select(
        F.col("source").alias("host"),
        F.concat(F.lit("pub-"), F.col("source")).alias("publisher"),
        status.alias("status"),
        method.alias("method"),
        (i % 10).cast("int").alias("wave"),
        ((i % 97) * 10 + 50).cast("double").alias("duration_ms"),
    )


def q_host_error_rollup(spark, sf):
    """A9: per-(host, error-class) rollup (reference http_error_summary,
    comprehensive_telemetry.py:829-853)."""
    from mizzounewscrawler_spark.plans.telemetry import host_error_summary

    return host_error_summary(_tel_articles(spark, sf))


SQL_HOST_ERROR = f"""
WITH a AS (
  SELECT source AS host, {_TEL_STATUS} AS status, doc_id % 10 AS wave
  FROM documents
)
SELECT host,
       CASE WHEN status IN ('extracted','wire','feed') THEN 'ok'
            WHEN status = 'paywall' THEN 'thin'
            WHEN status = 'proxy_blocked' THEN 'challenge'
            ELSE 'error' END AS error_class,
       count(*) AS n,
       CAST(max(wave) AS INT) AS last_wave
FROM a GROUP BY 1, 2
"""


def q_method_effectiveness(spark, sf):
    """A8/A9: per-(host, method) effectiveness + the pruning verdict
    (success_rate > 50 AND articles_found > 0 AND attempts >= 2 —
    reference telemetry.py:1863-1869)."""
    from mizzounewscrawler_spark.plans.telemetry import method_effectiveness

    return method_effectiveness(_tel_articles(spark, sf))


SQL_METHOD_EFF = f"""
WITH a AS (
  SELECT source AS host, {_TEL_STATUS} AS status, {_TEL_METHOD} AS method
  FROM documents
), g AS (
  SELECT host, method, count(*) AS attempts,
         CAST(sum(CASE WHEN status IN ('extracted','wire','feed')
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS articles_found
  FROM a GROUP BY 1, 2
)
SELECT host, method, attempts, articles_found,
       round(articles_found * 100.0 / attempts, 2) AS success_rate,
       (articles_found * 100.0 / attempts > 50 AND articles_found > 0
        AND attempts >= 2) AS effective
FROM g
"""


def q_publisher_stats(spark, sf):
    """A9: per-(publisher, host, method) performance rollup (reference
    get_publisher_stats, comprehensive_telemetry.py:1281-1304)."""
    from mizzounewscrawler_spark.plans.telemetry import publisher_stats

    return publisher_stats(_tel_articles(spark, sf))


SQL_PUBLISHER_STATS = f"""
WITH a AS (
  SELECT 'pub-' || source AS publisher, source AS host,
         {_TEL_STATUS} AS status, {_TEL_METHOD} AS method,
         CAST((doc_id % 97) * 10 + 50 AS DOUBLE) AS duration_ms
  FROM documents
)
SELECT publisher, host, method AS most_common_method,
       count(*) AS total_attempts,
       CAST(sum(CASE WHEN status IN ('extracted','wire','feed')
                     THEN 1 ELSE 0 END) AS BIGINT) AS successful,
       avg(duration_ms) AS avg_duration_ms
FROM a GROUP BY 1, 2, 3
"""


def _sql_verify() -> str:
    from mizzounewscrawler_spark.operators.verification import (
        ALLOWLIST_RE,
        BLOCKLIST_RE,
        NON_NEWS_SUFFIXES,
        SHORTENER_HOSTS,
        SNIFFER_ARTICLE_CHARS,
        WIRE_URL_RE,
    )

    short = ", ".join(f"'{h}'" for h in SHORTENER_HOSTS)
    nn = " OR ".join(
        f"(bare = '{s}' OR bare LIKE '%.{s}')" for s in NON_NEWS_SUFFIXES
    )
    sniff = ", ".join(f"'{c}'" for c in SNIFFER_ARTICLE_CHARS)
    return f"""
WITH urls AS (
  SELECT doc_id,
         CASE doc_id % 12
           WHEN 0 THEN 'https://bit.ly/x' || doc_id
           WHEN 1 THEN 'https://www.youtube.com/watch?v=' || doc_id
           WHEN 2 THEN 'https://apnews.com/article/' || doc_id
           WHEN 3 THEN 'https://www.site.news.test/search/q' || doc_id
           WHEN 4 THEN 'https://www.site.news.test/news/story-' || doc_id
           WHEN 5 THEN 'https://www.site.news.test/2024/01/15/t-' || doc_id
           WHEN 6 THEN 'https://www.site.news.test/story/' || doc_id
           WHEN 7 THEN 'https://www.site.news.test/img' || doc_id || '.jpg'
           WHEN 8 THEN 'https://www.site.news.test/page-x' || doc_id
           WHEN 9 THEN 'https://www.site.news.test/y' || doc_id
           WHEN 10 THEN 'https://www.site.news.test/tag/t' || doc_id
           ELSE 'https://www.site.news.test/z' || doc_id || '-4567'
         END AS url
  FROM documents
), hosts AS (
  SELECT doc_id, url,
         regexp_replace(lower(regexp_extract(url, '^https?://([^/]+)', 1)),
                        '^www\\.', '') AS bare
  FROM urls
)
SELECT doc_id, url,
       CASE
         WHEN bare IN ({short}) OR {nn} THEN 'not_article'
         WHEN regexp_matches(url, '{WIRE_URL_RE}') THEN 'wire'
         WHEN regexp_matches(url, '{BLOCKLIST_RE}') THEN 'not_article'
         WHEN regexp_matches(url, '{ALLOWLIST_RE}') THEN 'article'
         WHEN substr(md5(url), 1, 1) IN ({sniff}) THEN 'article'
         ELSE 'not_article'
       END AS verify_status
FROM hosts
"""


_NER_N1 = [
    "Boone County", "Columbia", "Greene City Park", "Mary Smith",
    "Rock Bridge", "Jefferson School Board",
]
_NER_N2 = ["John Doe", "Audrain County", "University Hospital", "Oak Street"]
_GAZ_ROWS = [
    (101, "boone county", "admin_boundary"),
    (102, "columbia", "city"),
    (103, "rock bridge park", "park"),      # fuzzy target for "rock bridge"
    (104, "audrain county", "admin_boundary"),
    (105, "university hospital", "building"),
    (106, "oak street", "road"),
]


def q_ner_gazetteer(spark, sf):
    """U6+J6: heuristic NER over synthesized entity-bearing text (the
    fixture documents are all-lowercase, so entities are planted
    deterministically from doc_id) → gazetteer fuzzy match (prefix-blocked
    broadcast join + JVM levenshtein scoring).  Fully oracle-checked: the
    NER regex, typing rules, blocking, scoring, and best-match ranking are
    all mirrored independently in DuckDB SQL."""
    from mizzounewscrawler_spark.operators.ml import (
        extract_entities,
        match_gazetteer,
    )

    d = t(spark, sf, "documents")
    i = F.col("doc_id")
    text = F.concat(
        F.lit("the council met at "),
        F.element_at(F.array(*[F.lit(x) for x in _NER_N1]), (i % 6 + 1).cast("int")),
        F.lit(" before "),
        F.element_at(F.array(*[F.lit(x) for x in _NER_N2]), (i % 4 + 1).cast("int")),
        F.lit(" spoke about the budget"),
    )
    docs = d.select("doc_id", text.alias("text"))
    ents = extract_entities(docs, id_col="doc_id", text_col="text")
    gaz = spark.createDataFrame(
        _GAZ_ROWS, "gazetteer_id long, name_norm string, osm_category string"
    )
    return match_gazetteer(ents, gaz, min_score=0.6).select(
        "article_id", "entity_norm", "entity_label",
        "matched_gazetteer_id", "osm_category", "match_score",
    )


def _sql_ner_gazetteer() -> str:
    from mizzounewscrawler_spark.operators.ml import _GPE_WORDS, _ORG_WORDS

    n1 = ", ".join(f"'{x}'" for x in _NER_N1)
    n2 = ", ".join(f"'{x}'" for x in _NER_N2)
    gaz = ", ".join(f"({i}, '{n}', '{c}')" for i, n, c in _GAZ_ROWS)
    gpe = ", ".join(f"'{w}'" for w in sorted(_GPE_WORDS))
    org = ", ".join(f"'{w}'" for w in sorted(_ORG_WORDS))
    pat = r"\b([A-Z][a-z]+(?: [A-Z][a-z]+){0,3})\b"
    return f"""
WITH docs AS (
  SELECT doc_id,
         'the council met at ' || ([{n1}])[(doc_id % 6 + 1)::int] ||
         ' before ' || ([{n2}])[(doc_id % 4 + 1)::int] ||
         ' spoke about the budget' AS text
  FROM documents
), spans AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{pat}', 1)) AS s FROM docs
), ents AS (
  SELECT DISTINCT doc_id AS article_id, lower(s) AS entity_norm,
         CASE WHEN len(list_intersect(string_split(lower(s), ' '), [{gpe}])) > 0
                THEN 'GPE'
              WHEN len(list_intersect(string_split(lower(s), ' '), [{org}])) > 0
                THEN 'ORG'
              WHEN len(string_split(s, ' ')) >= 2 THEN 'PERSON'
              ELSE 'MISC' END AS entity_label
  FROM spans
), gaz(gazetteer_id, name_norm, osm_category) AS (VALUES {gaz}),
cand AS (
  SELECT e.article_id, e.entity_norm, e.entity_label,
         g.gazetteer_id, g.osm_category,
         round(1.0 - levenshtein(e.entity_norm, g.name_norm) /
               greatest(len(e.entity_norm), len(g.name_norm)), 6) AS match_score
  FROM ents e JOIN gaz g
    ON substr(e.entity_norm, 1, 4) = substr(g.name_norm, 1, 4)
), best AS (
  SELECT *, row_number() OVER (PARTITION BY article_id, entity_norm
                               ORDER BY match_score DESC, gazetteer_id ASC) AS rn
  FROM cand WHERE match_score >= 0.6
)
SELECT article_id, entity_norm, entity_label,
       CAST(gazetteer_id AS BIGINT) AS matched_gazetteer_id, osm_category,
       match_score
FROM best WHERE rn = 1
"""


def q_neardup_cluster_resolve(spark, sf):
    """The dedup-pipeline tail: exact Jaccard pairs ≥ 0.3 → distributed
    connected components (pointer-doubling min-label propagation) → one
    dedup verdict per document (cluster_id = min doc id in the duplicate
    cluster, is_kept = keep-lowest-id canonical policy).  ``WHERE is_kept``
    is the deduplicated corpus."""
    from mizzounewscrawler_spark.operators.dedup import (
        ngram_jaccard_pairs,
        resolve_neardup_clusters,
    )

    d = t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.3)
    return resolve_neardup_clusters(d, pairs, "doc_id")


# Same pair semantics as SQL_NGRAM_JACCARD; components via transitive
# closure (recursive CTE), component label = min reachable doc id.
SQL_NEARDUP_RESOLVE = r"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
                                x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
                               i -> array_to_string(tk[i:i+2], ' '))) AS shingles
  FROM toks WHERE len(tk) >= 3
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
posting AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS cmn
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(cmn::double / (sa.n + sb.n - cmn), 6) >= 0.3
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
                      WHERE e.dst <> r.src
),
labels AS (
  SELECT d.doc_id AS doc_id,
         least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_kept FROM labels
"""


def q_asof_join(spark, sf):
    """Backward as-of join: each event gets the customer's latest order at
    or before the event time (union + one keyed running window — no
    inequality join, no per-key collect; see operators/temporal.py).  Ties
    on (custkey, orderdate) are pre-aggregated to max orderkey so the match
    is deterministic in both engines."""
    from mizzounewscrawler_spark.operators.temporal import asof_join

    ev = t(spark, sf, "events").select("event_id", "user_id", "ts")
    ded = (
        t(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    j = asof_join(
        ev, ded,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("o_orderkey"), F.lit(-1)).alias("last_order_key"),
        F.round(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), 2).alias("last_order_price"),
        F.coalesce(
            F.datediff(F.to_date("ts"), F.to_date("asof_o_orderdate")), F.lit(-1)
        ).alias("days_since_order"),
    )


SQL_ASOF = """
WITH ded AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
         arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       coalesce(d.o_orderkey, -1) AS last_order_key,
       round(coalesce(d.o_totalprice, 0.0), 2) AS last_order_price,
       coalesce(date_diff('day', d.o_orderdate::date, e.ts::date), -1)
           AS days_since_order
FROM events e ASOF LEFT JOIN ded d
  ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
"""


def q_range_join(spark, sf):
    """Interval-containment join (bucketed — no inequality cross product):
    deterministic promo-window zoo from order keys (start/length are pure
    o_orderkey arithmetic so both engines build identical intervals), each
    event counts the windows of its user containing its timestamp."""
    from mizzounewscrawler_spark.operators.temporal import range_join

    ev = t(spark, sf, "events").select("event_id", "user_id", "ts")
    ok = F.col("o_orderkey")
    iv = (
        t(spark, sf, "orders")
        .where(ok % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_add(F.lit("2024-01-01").cast("date"), (ok % 28).cast("int")).alias("w_start"),
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                (ok % 28 + 1 + ok % 7).cast("int"),
            ).alias("w_end"),
        )
    )
    m = (
        range_join(ev, iv, "user_id", "o_custkey", "ts", "w_start", "w_end")
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.min("o_orderkey").alias("first_window_key"),
        )
    )
    return ev.join(m, "event_id", "left").select(
        "event_id",
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("first_window_key", F.lit(-1)).alias("first_window_key"),
    )


SQL_RANGE_JOIN = """
WITH iv AS (
  SELECT o_custkey, o_orderkey,
         DATE '2024-01-01' + CAST(o_orderkey % 28 AS INT) AS w_start,
         DATE '2024-01-01' + CAST(o_orderkey % 28 + 1 + o_orderkey % 7 AS INT) AS w_end
  FROM orders WHERE o_orderkey % 10 = 0
), m AS (
  SELECT e.event_id, count(*) AS n_windows, min(iv.o_orderkey) AS first_window_key
  FROM events e JOIN iv ON e.user_id = iv.o_custkey
   AND e.ts >= iv.w_start AND e.ts < iv.w_end
  GROUP BY 1
)
SELECT e.event_id, coalesce(m.n_windows, 0) AS n_windows,
       coalesce(m.first_window_key, -1) AS first_window_key
FROM events e LEFT JOIN m USING (event_id)
"""


def _pii_fixture_expr():
    """Deterministic PII zoo appended to each document (doc_id % 5 picks the
    kind; %5==4 stays clean) — same construction restated in SQL_PII so both
    engines scrub identical text.  Mirrors the URL-zoo fixture pattern."""
    i = F.col("doc_id")
    return (
        F.when(i % 5 == 0, F.concat(F.lit(" reach me at user"), i, F.lit("@example.com ok")))
        .when(i % 5 == 1, F.lit(" ssn is 123-45-6789 end"))
        .when(
            i % 5 == 2,
            F.concat(F.lit(" call +1 (573) 882-"), (F.lit(1000) + i % 9000).cast("string")),
        )
        .when(
            i % 5 == 3,
            F.concat(
                F.lit(" server at 192.168."),
                (i % 256).cast("string"),
                F.lit("."),
                ((i * 7) % 256).cast("string"),
                F.lit(" up"),
            ),
        )
        .otherwise(F.lit(""))
    )


def q_pii_redaction(spark, sf):
    """Training-corpus PII scrub: count emails / SSNs / phones / IPv4s per
    document and redact them with typed placeholders — one chained JVM
    regexp pipeline, no Python (at 100 TB this rides the scan stage)."""
    from mizzounewscrawler_spark.functions.text import (
        pii_count_expr,
        pii_redact_expr,
    )

    d = t(spark, sf, "documents")
    aug = d.select(
        "doc_id", F.concat(F.col("text"), _pii_fixture_expr()).alias("text")
    )
    txt = F.col("text")
    return aug.select(
        "doc_id",
        pii_count_expr(txt, "email").alias("n_email"),
        pii_count_expr(txt, "ssn").alias("n_ssn"),
        pii_count_expr(txt, "phone").alias("n_phone"),
        pii_count_expr(txt, "ipv4").alias("n_ip"),
        F.length(pii_redact_expr(txt)).alias("redacted_len"),
    )


SQL_PII = r"""
WITH aug AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 0 THEN ' reach me at user' || doc_id || '@example.com ok'
           WHEN 1 THEN ' ssn is 123-45-6789 end'
           WHEN 2 THEN ' call +1 (573) 882-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
           WHEN 3 THEN ' server at 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
           ELSE ''
         END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
  len(regexp_extract_all(text, '\+\d{1,3}[-. ]?\(\d{3}\)[-. ]?\d{3}[-. ]?\d{4}|\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
  length(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\+\d{1,3}[-. ]?\(\d{3}\)[-. ]?\d{3}[-. ]?\d{4}|\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
  ) AS redacted_len
FROM aug
"""


def q_gopher_quality(spark, sf):
    """Gopher-style repetition/quality gates per document (Rae et al. 2021
    §A1.1 repetition signals, restated over the synthetic corpus): token
    count, mean word length, most-frequent-word fraction, most-frequent-
    bigram fraction, and a keep flag.  All relational — explode + two-level
    groupBy, map-side combinable, no per-doc state on the driver."""
    from mizzounewscrawler_spark.functions.text import (
        tokens_expr,
        word_shingles_expr,
    )

    d = t(spark, sf, "documents")
    base = d.where(F.trim(F.col("text")) != "").select(
        "doc_id",
        F.transform(tokens_expr(F.col("text")), lambda x: F.lower(x)).alias("tk"),
        word_shingles_expr(F.col("text"), 2).alias("bg"),
    )
    wf = (
        base.select("doc_id", F.explode("tk").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ws = wf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_w"),
        (F.sum(F.length("w") * F.col("c")) / F.sum("c")).alias("mean_len"),
    )
    bf = (
        base.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bs = bf.groupBy("doc_id").agg(
        (F.max("c") / F.sum("c")).alias("top_bigram_frac")
    )
    twf = F.col("top_w") / F.col("n_tokens")
    keep = (
        (F.col("n_tokens") >= 25)
        & (twf <= 0.125)
        & (F.col("top_bigram_frac") <= 0.055)
    )
    return (
        ws.join(bs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round("mean_len", 6).alias("mean_word_len"),
            F.round(twf, 6).alias("top_word_frac"),
            F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
            keep.alias("keep"),
        )
    )


SQL_GOPHER = r"""
WITH toks AS (
  SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
                                x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), words AS (SELECT doc_id, unnest(tk) AS w FROM toks),
wf AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
ws AS (
  SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_w,
         sum(len(w) * c)::double / sum(c) AS mean_len
  FROM wf GROUP BY 1
), bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                        i -> array_to_string(tk[i:i+1], ' '))) AS g
  FROM toks WHERE len(tk) >= 2
), bf AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
bs AS (SELECT doc_id, max(c)::double / sum(c) AS top_bigram_frac FROM bf GROUP BY 1)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(mean_len, 6) AS mean_word_len,
       round(top_w::double / n_tokens, 6) AS top_word_frac,
       round(top_bigram_frac, 6) AS top_bigram_frac,
       (n_tokens >= 25 AND top_w::double / n_tokens <= 0.125
        AND top_bigram_frac <= 0.055) AS keep
FROM ws JOIN bs USING (doc_id)
"""


def q_ccnet_buckets(spark, sf):
    """CCNet-style perplexity quality bucketing (Wenzek et al. 2019 §4.4,
    restated as an exact bigram LM): train add-k bigram counts on the
    corpus, score every document's perplexity, label head/middle/tail at
    per-language quantiles.  operators/lm.py; one broadcast LM join + one
    doc-keyed groupBy + per-language percentile thresholds."""
    from mizzounewscrawler_spark.operators.lm import (
        ccnet_buckets,
        ngram_lm,
        perplexity,
    )

    d = t(spark, sf, "documents").where(F.trim(F.col("text")) != "")
    lm = ngram_lm(d)
    scored = perplexity(d, lm).join(d.select("doc_id", "lang"), "doc_id")
    return ccnet_buckets(scored, by="lang").select(
        "doc_id", "lang", "n_tokens", "ppl", "bucket"
    )


SQL_CCNET = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), tr AS (
  SELECT doc_id, lang,
         CASE WHEN i = 1 THEN '<s>' ELSE tk[i - 1] END AS prev,
         tk[i] AS word
  FROM toks, unnest(generate_series(1, len(tk))) AS u(i)
), big AS (
  SELECT prev, word, count(*) AS c_bigram FROM tr GROUP BY 1, 2
), ctx AS (
  SELECT prev, count(*) AS c_prev FROM tr GROUP BY 1
), voc AS (SELECT count(DISTINCT word) AS vocab FROM tr),
lp AS (
  SELECT tr.doc_id, tr.lang,
         log2((coalesce(b.c_bigram, 0) + 0.1)
              / (coalesce(c.c_prev, 0) + 0.1 * (v.vocab + 1))) AS lp
  FROM tr
  LEFT JOIN big b ON tr.prev = b.prev AND tr.word = b.word
  LEFT JOIN ctx c ON tr.prev = c.prev
  CROSS JOIN voc v
), scored AS (
  SELECT doc_id, lang, count(*) AS n_tokens,
         round(pow(2.0, -sum(lp) / count(*)), 4) AS ppl
  FROM lp GROUP BY 1, 2
), cuts AS (
  SELECT lang, quantile_cont(ppl, 0.1) AS t_head,
         quantile_cont(ppl, 0.5) AS t_mid
  FROM scored GROUP BY 1
)
SELECT s.doc_id, s.lang, CAST(s.n_tokens AS BIGINT) AS n_tokens, s.ppl,
       CASE WHEN s.ppl <= c.t_head THEN 'head'
            WHEN s.ppl <= c.t_mid THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c USING (lang)
"""


def q_url_trap_mining(spark, sf):
    """Crawler-trap mining (operators/verification.py mine_url_traps):
    URL paths collapse to digit/hex-normalized templates; (host,
    template) pairs with > 20 distinct URLs are trap suspects.  Fixture:
    src0 is a calendar trap (one template, a distinct URL per doc), every
    other source publishes one-off story slugs."""
    from mizzounewscrawler_spark.operators.verification import (
        mine_url_traps,
    )

    d = t(spark, sf, "documents")
    slug = F.regexp_replace(F.substring(F.col("text"), 1, 12), "[^a-z]", "-")
    url = F.when(
        F.col("source") == "src0",
        F.concat(
            F.lit("https://www."), F.col("source"),
            F.lit(".test/calendar/2024/"),
            (F.col("doc_id") % 500).cast("string"),
            F.lit("?day="), F.col("doc_id").cast("string"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".test/stories/"),
            slug, F.lit("-"), F.col("doc_id").cast("string"),
        )
    )
    return mine_url_traps(d.select(url.alias("url")))


SQL_URL_TRAPS = r"""
WITH u AS (
  SELECT CASE WHEN source = 'src0'
    THEN 'https://www.' || source || '.test/calendar/2024/'
         || CAST(doc_id % 500 AS VARCHAR) || '?day=' || CAST(doc_id AS VARCHAR)
    ELSE 'https://www.' || source || '.test/stories/'
         || regexp_replace(substring(text, 1, 12), '[^a-z]', '-', 'g')
         || '-' || CAST(doc_id AS VARCHAR)
  END AS url FROM documents
), parts AS (
  SELECT lower(regexp_extract(url, '^https?://([^/]+)', 1)) AS host,
         regexp_replace(regexp_replace(
           lower(regexp_extract(url, '^[a-zA-Z]+://[^/]+(/[^?#]*)', 1)),
           '[0-9a-f]{16,}', 'H', 'g'), '[0-9]+', 'N', 'g')
         || CASE WHEN contains(url, '?') THEN '?Q' ELSE '' END AS template,
         url FROM u
)
SELECT host, template, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
       min(url) AS example_url, count(DISTINCT url) > 20 AS trap
FROM parts GROUP BY 1, 2
"""


def q_slice_divergence(spark, sf):
    """Per-language token-distribution χ² against the pooled corpus
    (operators/lm.py token_chi2_by_slice) — the mixture diagnostic run
    before re-weighting or ingesting a new dump.  Sparse algebra: only
    observed (slice, token) pairs are materialized."""
    from mizzounewscrawler_spark.operators.lm import token_chi2_by_slice

    return token_chi2_by_slice(t(spark, sf, "documents"), "lang")


SQL_SLICE_DIVERGENCE = r"""
WITH tok AS (
  SELECT lang AS s, lower(t.tk) AS token
  FROM documents,
       unnest(regexp_split_to_array(trim(text), '\s+')) AS t(tk)
  WHERE trim(text) <> ''
), pooled AS (
  SELECT token, count(*) AS c FROM tok GROUP BY 1
), per_slice AS (
  SELECT s, token, count(*) AS o FROM tok GROUP BY 1, 2
), n AS (SELECT count(*) AS n_total FROM tok),
agg AS (
  SELECT p.s, sum(p.o) AS n_tokens,
         sum(CAST(p.o AS DOUBLE) * p.o / g.c) AS r
  FROM per_slice p JOIN pooled g USING (token)
  GROUP BY 1
)
SELECT a.s AS lang, CAST(a.n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n.n_total AS DOUBLE) / a.n_tokens * a.r - a.n_tokens, 4)
         AS chi2,
       round((CAST(n.n_total AS DOUBLE) / a.n_tokens * a.r - a.n_tokens)
             / a.n_tokens, 6) AS chi2_per_token
FROM agg a CROSS JOIN n
"""


def q_quality_yield_priority(spark, sf):
    """Focused-crawl frontier re-ranking (operators/scheduler.py
    quality_yield_priority): per-host training-usable yield (fetched docs
    with n_chars ≥ 300) re-ranks pending URLs inside their priority band;
    unseen hosts get the neutral exploration boost.  Fixture: documents
    with doc_id % 5 == 0 are the pending frontier, the rest are the fetch
    history."""
    from mizzounewscrawler_spark.operators.scheduler import (
        quality_yield_priority,
    )

    d = t(spark, sf, "documents")
    arts = d.where(F.col("doc_id") % 5 != 0).select(
        F.col("source").alias("host"), "n_chars"
    )
    frontier = d.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("url_hash"),
        F.col("source").alias("host"),
        (F.lit(1) + F.col("doc_id") % 2).cast("int").alias("priority"),
    )
    return quality_yield_priority(
        frontier, arts, F.col("n_chars") >= 300
    ).select(
        "url_hash", "host", "priority", "fetched", "passed", "yield_bp",
        "priority2",
    )


SQL_QUALITY_YIELD = r"""
WITH arts AS (
  SELECT source AS host, n_chars FROM documents WHERE doc_id % 5 <> 0
), stats AS (
  SELECT host, count(*) AS fetched,
         sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS passed
  FROM arts GROUP BY 1
), frontier AS (
  SELECT doc_id AS url_hash, source AS host,
         CAST(1 + doc_id % 2 AS INT) AS priority
  FROM documents WHERE doc_id % 5 = 0
)
SELECT f.url_hash, f.host, f.priority,
       CAST(coalesce(s.fetched, 0) AS BIGINT) AS fetched,
       CAST(coalesce(s.passed, 0) AS BIGINT) AS passed,
       CAST(CASE WHEN s.fetched IS NULL THEN 5000
                 ELSE s.passed * 10000 // s.fetched END AS BIGINT)
         AS yield_bp,
       CAST(f.priority AS BIGINT) * 100000
         + CAST(CASE WHEN s.fetched IS NULL THEN 5000
                     ELSE s.passed * 10000 // s.fetched END AS BIGINT)
         AS priority2
FROM frontier f LEFT JOIN stats s USING (host)
"""


def q_quantile_sketch(spark, sf):
    """HDR/DDSketch-style quantile estimates (operators/sketches.py):
    log₂-binned histogram over lineitem extended-price cents, p50/p90/p99
    read from bucket cumsums, published next to the exact discrete-lower
    quantiles with the ≤ 1+2⁻³ relative-error guarantee as an
    integer-checked column.  Buckets merge by sum — quantile state
    composes across partitions/days without ever sorting the data."""
    from pyspark.sql import Window as W

    from mizzounewscrawler_spark.operators.sketches import (
        histogram_quantile,
        log_histogram,
    )

    li = t(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    ).where(F.col("cents") >= 1)
    hist = log_histogram(li, "cents")
    est = None
    for p in (50, 90, 99):
        part = histogram_quantile(hist, p)
        est = part if est is None else est.unionByName(part)
    ranked = li.withColumn(
        "_rn", F.row_number().over(W.orderBy(F.col("cents").asc()))
    )
    tot = li.agg(F.count(F.lit(1)).alias("_tn"))
    ex = None
    for p in (50, 90, 99):
        rank = ((F.col("_tn") - 1) * F.lit(p) / F.lit(100)).cast("long") + 1
        part = (
            ranked.crossJoin(F.broadcast(tot))
            .where(F.col("_rn") == rank)
            .select(F.lit(p).alias("p"), F.col("cents").alias("exact"))
        )
        ex = part if ex is None else ex.unionByName(part)
    return est.join(ex, "p").select(
        "p",
        "n",
        "est",
        "exact",
        (
            (F.col("est") <= F.col("exact"))
            & (F.lit(8) * F.col("exact") < F.lit(9) * F.col("est"))
        ).alias("within_bound"),
    )


SQL_QUANTILE_SKETCH = r"""
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), b AS (
  SELECT cents, length(bin(cents)) - 1 AS e FROM v WHERE cents >= 1
), bk AS (
  SELECT e, cents >> (CASE WHEN e > 3 THEN e - 3 ELSE 0 END) AS top,
         count(*) AS cnt
  FROM b GROUP BY 1, 2
), ranked AS (
  SELECT e, top, cnt,
         sum(cnt) OVER (ORDER BY e, top ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS n,
         top << (CASE WHEN e > 3 THEN e - 3 ELSE 0 END) AS lo
  FROM bk
), ps AS (SELECT unnest([50, 90, 99]) AS p),
est AS (
  SELECT p.p, r.n, r.lo AS est
  FROM ranked r CROSS JOIN ps p
  WHERE r.cum >= (r.n - 1) * p.p // 100 + 1
    AND r.cum - r.cnt < (r.n - 1) * p.p // 100 + 1
), sorted AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
         count(*) OVER () AS n
  FROM b
), ex AS (
  SELECT p.p, s.cents AS exact
  FROM sorted s CROSS JOIN ps p
  WHERE s.rn = (s.n - 1) * p.p // 100 + 1
)
SELECT e.p, CAST(e.n AS BIGINT) AS n, CAST(e.est AS BIGINT) AS est,
       CAST(x.exact AS BIGINT) AS exact,
       (e.est <= x.exact AND 8 * x.exact < 9 * e.est) AS within_bound
FROM est e JOIN ex x USING (p)
"""


def q_hll_distinct(spark, sf):
    """HyperLogLog distinct counting (operators/sketches.py): 2^12
    hex-pinned registers estimate distinct l_orderkey over lineitem, with
    the exact count alongside for validation.  Registers are bit-identical
    across engines (md5 hex-string arithmetic only); at 10^10 URLs this
    replaces a distinct-key shuffle with 4096 integers that merge by
    max() across partitions, snapshots, and days."""
    from mizzounewscrawler_spark.operators.sketches import approx_distinct

    li = t(spark, sf, "lineitem")
    est = approx_distinct(li, "l_orderkey")
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return est.crossJoin(exact).select(
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "zero_buckets",
        "est_distinct",
        "exact_distinct",
    )


SQL_HLL_DISTINCT = r"""
WITH h AS (
  SELECT substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 3) AS bh,
         substring(md5(CAST(l_orderkey AS VARCHAR)), 4, 12) AS w
  FROM lineitem WHERE l_orderkey IS NOT NULL
), r AS (
  SELECT CAST('0x' || bh AS BIGINT) AS bucket,
         length(regexp_extract(w, '^0*')) AS z,
         substring(w, length(regexp_extract(w, '^0*')) + 1, 1) AS d
  FROM h
), reg AS (
  SELECT bucket,
         max(CASE WHEN z = 12 THEN 49
                  ELSE z * 4 + (CASE WHEN d = '1' THEN 3
                                     WHEN d IN ('2','3') THEN 2
                                     WHEN d IN ('4','5','6','7') THEN 1
                                     ELSE 0 END) + 1 END) AS rho
  FROM r GROUP BY 1
), agg AS (
  SELECT count(*) AS occupied, sum(pow(2.0, -rho)) AS s FROM reg
), est AS (
  SELECT occupied, 4096 - occupied AS v,
         (0.7213 / (1.0 + 1.079 / 4096)) * 4096 * 4096
           / (s + CAST(4096 - occupied AS DOUBLE)) AS raw
  FROM agg
)
SELECT CAST(4096 AS BIGINT) AS n_buckets,
       CAST(v AS BIGINT) AS zero_buckets,
       round(CASE WHEN raw <= 2.5 * 4096 AND v > 0
                  THEN 4096.0 * ln(4096.0 / CAST(v AS DOUBLE))
                  ELSE raw END, 4) AS est_distinct,
       (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
         AS exact_distinct
FROM est
"""


def q_exact_substring_dedup(spark, sf):
    """ExactSubstr duplicate-span removal (Lee et al. 2021): sliding
    8-token windows hashed with md5, spans repeated across ≥2 documents
    removed from every document carrying them, survivors rejoined in
    order (operators/passages.py — catches cross-boundary repeats the
    fixed C4 windows of passage_dedup miss)."""
    from mizzounewscrawler_spark.operators.passages import (
        exact_substring_dedup,
    )

    d = t(spark, sf, "documents")
    return exact_substring_dedup(d, "text", "doc_id", window=8, min_docs=2)


SQL_EXACT_SUBSTRING = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''
), tokens AS (
  SELECT doc_id, i AS pos, tk[i] AS tok
  FROM base, unnest(generate_series(1, len(tk))) AS u(i)
), grams AS (
  SELECT doc_id, i AS gpos, md5(array_to_string(tk[i:i+7], ' ')) AS key
  FROM base, unnest(generate_series(1, len(tk) - 7)) AS u(i)
), hot AS (
  SELECT key FROM (
    SELECT key, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1
  ) WHERE nd >= 2
), removed AS (
  SELECT DISTINCT g.doc_id, u.t AS pos
  FROM grams g JOIN hot USING (key),
       unnest(generate_series(g.gpos, g.gpos + 7)) AS u(t)
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       coalesce(string_agg(CASE WHEN r.pos IS NULL THEN t.tok END,
                           ' ' ORDER BY t.pos), '') AS clean_text
FROM tokens t
LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.pos = r.pos
GROUP BY 1
"""


def q_cms_frequencies(spark, sf):
    """Count-min point-frequency estimates (operators/sketches.py): build
    the 4×1024 md5-pinned grid over events.user_id, then estimate the 10
    heaviest users and publish est vs exact with the CMS no-underestimate
    guarantee as a checked column.  The grid is integer-exact in both
    engines and merges by cell-wise sum — frequency state that composes
    across snapshots without a per-distinct-key shuffle."""
    from mizzounewscrawler_spark.operators.sketches import (
        cms_query,
        cms_sketch,
    )

    ev = t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    sk = cms_sketch(ev, "k")
    top = (
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("k").asc())
        .limit(10)
    )
    return (
        top.join(cms_query(sk, top.select("k"), "k"), "k")
        .select(
            F.col("k").alias("user_key"),
            "exact_cnt",
            F.col("est").cast("long").alias("cms_est"),
            (F.col("est") >= F.col("exact_cnt")).alias("no_underestimate"),
        )
    )


SQL_CMS_FREQUENCIES = r"""
WITH rows_d AS (
  SELECT * FROM (VALUES ('0', 0), ('1', 1), ('2', 2), ('3', 3))
    AS t(row_s, row_i)
), grid AS (
  SELECT row_i AS row, col, count(*) AS cnt FROM (
    SELECT r.row_i,
           CAST('0x' || substring(
             md5(r.row_s || ':' || CAST(user_id AS VARCHAR)), 1, 8)
             AS BIGINT) % 1024 AS col
    FROM events CROSS JOIN rows_d r WHERE user_id IS NOT NULL
  ) GROUP BY 1, 2
), top10 AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS exact_cnt
  FROM events WHERE user_id IS NOT NULL
  GROUP BY 1 ORDER BY exact_cnt DESC, k LIMIT 10
), probe AS (
  SELECT t.k, t.exact_cnt, r.row_i,
         CAST('0x' || substring(md5(r.row_s || ':' || t.k), 1, 8)
              AS BIGINT) % 1024 AS col
  FROM top10 t CROSS JOIN rows_d r
), est AS (
  SELECT k, exact_cnt, min(coalesce(g.cnt, 0)) AS est
  FROM probe p LEFT JOIN grid g ON p.row_i = g.row AND p.col = g.col
  GROUP BY 1, 2
)
SELECT k AS user_key, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est AS BIGINT) AS cms_est,
       est >= exact_cnt AS no_underestimate
FROM est
"""


def q_quality_classifier(spark, sf):
    """Trained quality-filter gate (GPT-3 appendix A / LLaMA): fit the
    difference-of-rates linear classifier with the English slice as the
    high-quality class, score every document, keep score > 0
    (operators/classifier.py — exact BIGINT weights and scores, so both
    engines agree bit-for-bit)."""
    from mizzounewscrawler_spark.operators.classifier import (
        classifier_score,
        classifier_weights,
        quality_gate,
    )

    d = t(spark, sf, "documents")
    w = classifier_weights(d, F.col("lang") == "en")
    return quality_gate(classifier_score(d, w)).select(
        "doc_id", "n_tokens", "score", "keep"
    )


SQL_QUALITY_CLASSIFIER = r"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS pos,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), words AS (SELECT doc_id, pos, unnest(tk) AS token FROM toks),
counts AS (
  SELECT token,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS c_neg
  FROM words GROUP BY 1
), tot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg FROM counts),
w AS (
  SELECT token, CAST(c_pos * n_neg - c_neg * n_pos AS BIGINT) AS weight
  FROM counts CROSS JOIN tot
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM words GROUP BY 1, 2
)
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf.tf * coalesce(w.weight, 0)) AS BIGINT) AS score,
       CAST(sum(tf.tf * coalesce(w.weight, 0)) AS BIGINT) > 0 AS keep
FROM tf LEFT JOIN w USING (token)
GROUP BY 1
"""


def q_dsir_resample(spark, sf):
    """DSIR importance resampling (Xie et al. 2023): target LM = the
    corpus's English slice, raw LM = the whole corpus; per-doc importance
    weight = mean log-likelihood ratio; deterministic Gumbel-top-k keeps
    ~25% (operators/lm.py).  Everything — both LM trainings, the ratio,
    the hash-uniform Gumbel draw, the quantile cut — is mirrored in
    DuckDB."""
    from mizzounewscrawler_spark.operators.lm import (
        dsir_resample,
        dsir_weights,
        ngram_lm,
    )

    d = t(spark, sf, "documents").where(F.trim(F.col("text")) != "")
    w = dsir_weights(d, ngram_lm(d.where(F.col("lang") == "en")), ngram_lm(d))
    return dsir_resample(w, keep_frac=0.25)


def _sql_lm_lp(doc_filter: str, prefix: str) -> str:
    """CTE block computing per-(doc, transition) log2-probs under the LM
    trained on ``doc_filter`` docs — shared by the DSIR mirror."""
    return f"""{prefix}big AS (
  SELECT prev, word, count(*) AS c FROM tr WHERE {doc_filter} GROUP BY 1, 2
), {prefix}ctx AS (
  SELECT prev, count(*) AS c FROM tr WHERE {doc_filter} GROUP BY 1
), {prefix}voc AS (
  SELECT count(DISTINCT word) AS v FROM tr WHERE {doc_filter}
), {prefix}lp AS (
  SELECT tr.doc_id,
         log2((coalesce(b.c, 0) + 0.1)
              / (coalesce(c.c, 0) + 0.1 * (v.v + 1))) AS lp
  FROM tr
  LEFT JOIN {prefix}big b ON tr.prev = b.prev AND tr.word = b.word
  LEFT JOIN {prefix}ctx c ON tr.prev = c.prev
  CROSS JOIN {prefix}voc v
), {prefix}ppl AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(pow(2.0, -sum(lp) / count(*)), 4) AS ppl
  FROM {prefix}lp GROUP BY 1
)"""


SQL_DSIR = (
    r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS tk
  FROM documents WHERE trim(text) <> ''
), tr AS (
  SELECT t.doc_id, t.lang,
         CASE WHEN i = 1 THEN '<s>' ELSE tk[i - 1] END AS prev,
         tk[i] AS word
  FROM toks t, unnest(generate_series(1, len(tk))) AS u(i)
), """
    + _sql_lm_lp("lang = 'en'", "t_")
    + ", "
    + _sql_lm_lp("true", "r_")
    + r""",
w AS (
  SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
         round(log2(r.ppl) - log2(t.ppl), 6) AS log_ratio
  FROM t_ppl t JOIN r_ppl r USING (doc_id)
), scored AS (
  SELECT *,
    round(log_ratio * ln(2)
          - ln(-ln((CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 12)
                    AS BIGINT) + 0.5) / 281474976710656.0)), 6) AS score
  FROM w
), cut AS (SELECT quantile_cont(score, 0.75) AS c FROM scored)
SELECT s.doc_id, s.n_tokens, s.log_ratio, s.score, s.score > cut.c AS kept
FROM scored s CROSS JOIN cut
"""
)


def q_tfidf_keywords(spark, sf):
    """Top-3 keywords per document by tf/df ranking (tf-idf with a rational
    score instead of ln(N/df) — transcendental-free so Spark and DuckDB
    produce bit-identical scores and therefore identical rank order; the
    ordering is the same since ln is monotone).  Plan: per-doc term counts
    (map-side combinable groupBy) ⋈ per-term document frequency (second
    groupBy on the term key) → per-doc top-3 window.  Term-asc tiebreak
    makes ranks deterministic."""
    from pyspark.sql import Window

    from mizzounewscrawler_spark.functions.text import tokens_expr

    d = t(spark, sf, "documents")
    words = d.where(F.trim("text") != "").select(
        "doc_id",
        F.explode(
            F.transform(tokens_expr(F.col("text")), lambda x: F.lower(x))
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.round(F.col("tf") / F.col("df"), 9)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
    )


SQL_TFIDF = r"""
WITH words AS (
  SELECT doc_id,
         unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                               x -> lower(x))) AS term
  FROM documents WHERE trim(text) <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT doc_id, term, tf,
         round(tf::double / df, 9) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(tf::double / df, 9) DESC, term ASC)
             AS rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, rank, term, score FROM scored WHERE rank <= 3
"""


def q_heavy_hitters(spark, sf):
    """Exact top-20 terms by frequency via Misra-Gries candidate pruning +
    exact recount (operators/sketches.py) — the shuffle carries only
    candidate keys, never the full term domain; the MG bound is certified
    post-hoc so the result is provably the exact top-k."""
    from mizzounewscrawler_spark.functions.text import tokens_expr
    from mizzounewscrawler_spark.operators.sketches import heavy_hitters

    d = t(spark, sf, "documents")
    words = d.where(F.trim("text") != "").select(
        F.explode(
            F.transform(tokens_expr(F.col("text")), lambda x: F.lower(x))
        ).alias("term")
    )
    return heavy_hitters(words, "term", k=20)


SQL_HEAVY_HITTERS = r"""
WITH words AS (
  SELECT unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                               x -> lower(x))) AS term
  FROM documents WHERE trim(text) <> ''
)
SELECT term, count(*) AS cnt FROM words
GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20
"""


def q_pagerank_hosts(spark, sf):
    """Host-authority PageRank (3 iterations, fixed-point integer
    arithmetic — bit-exact under any partitioning, see operators/graph.py)
    over a deterministic synthetic host link graph derived from order-key
    arithmetic (both engines build identical edges)."""
    from mizzounewscrawler_spark.operators.graph import pagerank

    o = t(spark, sf, "orders")
    edges = o.select(
        (F.col("o_custkey") % 100).alias("src"),
        (F.col("o_orderkey") % 100).alias("dst"),
    )
    return pagerank(edges, iterations=3).select(
        F.col("id").alias("host"), "rank"
    )


SQL_PAGERANK = """
WITH e AS (
  SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
  FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
c1 AS (SELECT e.dst AS id, sum(r0.r // od) AS s
       FROM e JOIN outdeg USING (src) JOIN r0 ON r0.id = e.src GROUP BY 1),
r1 AS (SELECT n.id, 150000 + (85 * coalesce(c1.s, 0)) // 100 AS r
       FROM nodes n LEFT JOIN c1 USING (id)),
c2 AS (SELECT e.dst AS id, sum(r1.r // od) AS s
       FROM e JOIN outdeg USING (src) JOIN r1 ON r1.id = e.src GROUP BY 1),
r2 AS (SELECT n.id, 150000 + (85 * coalesce(c2.s, 0)) // 100 AS r
       FROM nodes n LEFT JOIN c2 USING (id)),
c3 AS (SELECT e.dst AS id, sum(r2.r // od) AS s
       FROM e JOIN outdeg USING (src) JOIN r2 ON r2.id = e.src GROUP BY 1),
r3 AS (SELECT n.id, 150000 + (85 * coalesce(c3.s, 0)) // 100 AS r
       FROM nodes n LEFT JOIN c3 USING (id))
SELECT id AS host, CAST(r AS BIGINT) AS rank FROM r3
"""


def q_corpus_split(spark, sf):
    """Deterministic train/val/test assignment by md5 bucket of doc_id
    (operators/sampling.hash_split: pure per-row map, no shuffle, stable
    under repartitioning), summarized per (split, lang).  80/10/10."""
    from mizzounewscrawler_spark.operators.sampling import hash_split

    d = t(spark, sf, "documents")
    return (
        hash_split(d, "doc_id", {"train": 80, "val": 10, "test": 10})
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars"))
    )


# same integer thresholds hash_split derives: cum% * 65536 div 100
SQL_CORPUS_SPLIT = """
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS INTEGER) < 52428 THEN 'train'
              WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS INTEGER) < 58982 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM assigned GROUP BY split, lang
"""


def q_stratified_sample(spark, sf):
    """Per-source document cap (k=10) by md5-hash order — the two-phase
    exact top-k in operators/sampling.stratified_sample: phase-1 local
    top-k over (group, partition_id) spreads hot groups, phase 2 ranks
    only the <= partitions*k survivors."""
    from mizzounewscrawler_spark.operators.sampling import stratified_sample

    d = t(spark, sf, "documents").select("doc_id", "source")
    return stratified_sample(d, "source", k=10, id_col="doc_id")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 10
"""


def q_passage_dedup(spark, sf):
    """C4/RefinedWeb passage-level dedup: every 10-token passage occurring
    in ≥2 distinct documents is corpus boilerplate; drop all its
    occurrences and rebuild each document from the survivors
    (operators/passages.passage_dedup — two uniform-key shuffles, the
    MapReduce C4 shape)."""
    from mizzounewscrawler_spark.operators.passages import passage_dedup

    d = t(spark, sf, "documents").select("doc_id", "text")
    return passage_dedup(d, "text", "doc_id", window=10, min_docs=2)


SQL_PASSAGE_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''
), pass0 AS (
  SELECT doc_id, tk, unnest(range(0, (len(tk) + 9) // 10)) AS pos FROM toks
), pass AS (
  SELECT doc_id, pos,
         array_to_string(tk[pos*10+1 : pos*10+10], ' ') AS passage
  FROM pass0
), occ AS (
  SELECT passage, count(DISTINCT doc_id) AS nd FROM pass GROUP BY passage
), flagged AS (
  SELECT p.doc_id, p.pos, p.passage, (o.nd >= 2) AS boiler
  FROM pass p JOIN occ o ON p.passage = o.passage
)
SELECT doc_id, count(*) AS n_passages,
       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       coalesce(string_agg(CASE WHEN NOT boiler THEN passage END, ' '
                           ORDER BY pos), '') AS clean_text
FROM flagged GROUP BY doc_id
"""


def q_benchmark_decontam(spark, sf):
    """Benchmark n-gram decontamination (GPT-3 appendix-C / Dolma recipe):
    flag corpus documents sharing an n-gram with the benchmark slice
    (deterministic fixture split: doc_id % 19 == 0 is the 'eval suite').
    n=4 here so the fixture exercises chance collisions as well as true
    duplicates; production uses 8-13-gram windows
    (operators/passages.decontaminate — benchmark side broadcast, corpus
    side streams map-side)."""
    from mizzounewscrawler_spark.operators.passages import decontaminate

    d = t(spark, sf, "documents").select("doc_id", "text")
    bench = d.where(F.col("doc_id") % 19 == 0)
    corpus = d.where(F.col("doc_id") % 19 != 0)
    return decontaminate(corpus, bench, "text", "doc_id", n=4)


SQL_DECONTAM = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE trim(text) <> ''
), ng AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 3),
                               i -> array_to_string(tk[i:i+3], ' '))) AS gs
  FROM toks WHERE len(tk) >= 4
), post AS (SELECT doc_id, unnest(gs) AS g FROM ng),
bench AS (SELECT DISTINCT g FROM post WHERE doc_id % 19 = 0)
SELECT p.doc_id, count(*) AS n_matched
FROM post p JOIN bench b ON p.g = b.g
WHERE p.doc_id % 19 <> 0
GROUP BY p.doc_id
"""


def q_mixture_sample(spark, sf):
    """Training-mixture weights: per-source deterministic subsampling by
    the pinned md5 bucket (operators/sampling.mixture_sample — monotone in
    the rate, shuffle-free), summarized per source."""
    from mizzounewscrawler_spark.operators.sampling import mixture_sample

    d = t(spark, sf, "documents")
    kept = mixture_sample(
        d, "source", "doc_id",
        {"src0": 100, "src1": 75, "src2": 50, "src3": 25},
        default_pct=60,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )


# thresholds: pct * 65536 div 100, same integer math as the operator
SQL_MIXTURE = """
WITH kept AS (
  SELECT source, n_chars FROM documents
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER)
        < CASE WHEN source = 'src0' THEN 65536
               WHEN source = 'src1' THEN 49152
               WHEN source = 'src2' THEN 32768
               WHEN source = 'src3' THEN 16384
               ELSE 39321 END
)
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM kept GROUP BY source
"""


def q_group_percentiles(spark, sf):
    """Exact per-event-type value percentiles (p50/p95/p99, discrete-lower
    variant) — all-integer rank math in operators/sketches.
    exact_group_quantiles, so Spark and the oracle agree bit-for-bit with
    no floating-point interpolation formula in play."""
    from mizzounewscrawler_spark.operators.sketches import exact_group_quantiles

    e = t(spark, sf, "events")
    return exact_group_quantiles(
        e, "event_type", "value", "event_id", [50, 95, 99]
    )


SQL_GROUP_PERCENTILES = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN value END) AS p50,
       max(CASE WHEN rn = ((n - 1) * 95) // 100 + 1 THEN value END) AS p95,
       max(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN value END) AS p99
FROM ranked GROUP BY event_type
"""


def q_corpus_curation(spark, sf):
    """End-to-end training-corpus curation as ONE declarative plan:
    lang filter → quality gate (quality_score_expr, JVM) → exact-dedup
    keep-first (row_number over md5(text), uniform hash key) → md5-bucket
    train/val/test split (pure map) → per-split stats.

    Plan shape at 100 TB: scan → codegen project/filter → one shuffle for
    the dedup window → map-side split assignment → partially-aggregated
    groupBy.  Exactly two exchanges end to end; every filter sits at the
    scan.  Quality sum is decimal(18,4) so the aggregate is
    order-independent and the oracle hash-stable."""
    from mizzounewscrawler_spark.operators.sampling import hash_split

    d = t(spark, sf, "documents")
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    kept = (
        d.where((F.col("lang") == "en") & (F.trim(F.col("text")) != ""))
        .withColumn("quality", quality_score_expr(F.col("text")))
        .where(F.col("quality") >= 0.15)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        hash_split(kept, "doc_id", {"train": 80, "val": 10, "test": 10})
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.sum(token_count_expr(F.col("text"))).alias("ws_tokens"),
            F.round(F.sum(F.col("quality").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_quality"),
        )
    )


SQL_CORPUS_CURATION = f"""
WITH toks AS (
  SELECT doc_id, text, n_chars,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        x -> lower(x)) AS tk
  FROM documents WHERE lang = 'en' AND trim(text) <> ''
), base AS (
  SELECT doc_id, text, n_chars, tk,
         CASE WHEN len(tk) > 0
              THEN len(list_filter(tk, x -> list_contains({_STOPS_SQL}, x)))::double
                   / len(tk)::double
              ELSE 0.0 END AS sw,
         CASE WHEN length(text) > 0
              THEN length(regexp_replace(text, '[^.,;:!?''"()\\-]', '', 'g'))::double
                   / length(text)::double
              ELSE 0.0 END AS pr
  FROM toks
), scored AS (
  SELECT doc_id, text, n_chars, tk,
         round(greatest(least(
             least(length(text)::double / 2000.0, 1.0) * 0.5
           + least(sw * 2.5, 1.0) * 0.5
           - greatest(pr - 0.15, 0.0) * 2.0, 1.0), 0.0), 4) AS quality
  FROM base
), kept AS (
  SELECT doc_id, n_chars, tk, quality,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM scored WHERE quality >= 0.15
), assigned AS (
  SELECT doc_id, n_chars, tk, quality,
         CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS INTEGER) < 52428 THEN 'train'
              WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS INTEGER) < 58982 THEN 'val'
              ELSE 'test' END AS split
  FROM kept WHERE rn = 1
)
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST(sum(len(tk)) AS BIGINT) AS ws_tokens,
       round(sum(CAST(quality AS DECIMAL(18,4))), 4)::double AS sum_quality
FROM assigned GROUP BY split
"""


def q_chunk_documents(spark, sf):
    """LLM training-window chunking (500-char windows, 100-char overlap):
    a pure per-row posexplode riding the scan stage — no shuffle (see
    operators/chunking.py).  Chunk identity = (doc_id, start div stride),
    stable under any partitioning."""
    from mizzounewscrawler_spark.operators.chunking import chunk_documents

    d = t(spark, sf, "documents").select("doc_id", "text")
    ch = chunk_documents(d, "text", size=500, overlap=100)
    return ch.select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        F.length("chunk").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


SQL_CHUNKS = """
WITH starts AS (
  SELECT doc_id, text,
         unnest(range(0, greatest(length(text)::bigint - 100, 1), 400)) AS s
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id, s // 400 AS chunk_id, s AS chunk_start,
       length(substring(text, (s + 1)::int, 500)) AS chunk_len,
       md5(substring(text, (s + 1)::int, 500)) AS chunk_md5
FROM starts
"""


def q_pack_sequences(spark, sf):
    """Training-sequence packing (next-fit greedy, budget 500 chars) over
    data-derived buckets — deterministic at any parallelism (see
    operators/chunking.pack_sequences).  Bucket here is a mirrorable
    ``doc_id % 16`` so DuckDB can replay the sequential fold as a
    recursive CTE; production default is xxhash64."""
    from mizzounewscrawler_spark.operators.chunking import pack_sequences

    d = t(spark, sf, "documents").select("doc_id", "n_chars")
    packed = pack_sequences(
        d,
        "doc_id",
        "n_chars",
        budget=500,
        n_buckets=16,
        bucket_of=F.pmod(F.col("doc_id"), F.lit(16)),
    )
    return packed.select(
        "bucket",
        "seq_id",
        "n_items",
        "total_weight",
        "oversize",
        F.array_min("item_ids").alias("min_id"),
        F.array_max("item_ids").alias("max_id"),
    )


# The exact sequential fold (next-fit state machine) replayed in SQL:
# state after item i = (seq_id of i, #closed sequences, open-seq weight).
SQL_PACK_SEQUENCES = """
WITH RECURSIVE base AS (
  SELECT doc_id % 16 AS bucket, doc_id, n_chars::bigint AS w,
         row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS idx
  FROM documents
), rec AS (
  SELECT bucket, idx, doc_id, w,
         0::bigint AS seq_id,
         CASE WHEN w > 500 THEN 1 ELSE 0 END::bigint AS closed,
         CASE WHEN w > 500 THEN 0 ELSE w END AS cur_w
  FROM base WHERE idx = 1
  UNION ALL
  SELECT b.bucket, b.idx, b.doc_id, b.w,
         CASE WHEN b.w > 500
                THEN r.closed + CASE WHEN r.cur_w > 0 THEN 1 ELSE 0 END
              WHEN r.cur_w + b.w > 500 THEN r.closed + 1
              ELSE r.closed END AS seq_id,
         CASE WHEN b.w > 500
                THEN r.closed + CASE WHEN r.cur_w > 0 THEN 1 ELSE 0 END + 1
              WHEN r.cur_w + b.w > 500 THEN r.closed + 1
              ELSE r.closed END AS closed,
         CASE WHEN b.w > 500 THEN 0
              WHEN r.cur_w + b.w > 500 THEN b.w
              ELSE r.cur_w + b.w END AS cur_w
  FROM base b JOIN rec r ON b.bucket = r.bucket AND b.idx = r.idx + 1
)
SELECT CAST(bucket AS INT) AS bucket, CAST(seq_id AS INT) AS seq_id,
       CAST(count(*) AS INT) AS n_items,
       CAST(sum(w) AS BIGINT) AS total_weight,
       sum(w) > 500 AS oversize,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM rec GROUP BY bucket, seq_id
"""


def q_warc_roundtrip(spark, sf):
    """WARC source round-trip: documents → deterministic WARC/1.0 archives
    (sources/warc.encode_warc) → record parser (parse_warc) → page rows.
    The oracle recomputes every column from the documents table directly,
    so any parser defect (header split, Content-Length accounting, status
    parse, payload boundary) breaks the value hash — same pattern as the
    multimodal header oracle."""
    from mizzounewscrawler_spark.sources.warc import encode_warc, parse_warc

    d = (
        t(spark, sf, "documents")
        .where(F.col("doc_id") < 100)
        .select("doc_id", "source", "text")
    )

    def rt(batches):
        import pandas as pd

        cols = ["url", "warc_ts", "http_status", "html"]
        for pdf in batches:
            recs = [
                {
                    "url": f"https://src-{s}.example/doc/{i}",
                    "warc_ts": f"2024-01-01T00:00:{i % 60:02d}Z",
                    "status": 404 if i % 10 == 0 else 200,
                    "html": txt.encode("utf-8"),
                }
                for i, s, txt in zip(pdf["doc_id"], pdf["source"], pdf["text"])
            ]
            parsed = list(parse_warc(encode_warc(recs)))
            yield pd.DataFrame(
                [{c: p[c] for c in cols} for p in parsed], columns=cols
            )

    out = d.mapInPandas(
        rt, "url string, warc_ts string, http_status int, html binary"
    )
    return out.select(
        "url",
        "warc_ts",
        "http_status",
        F.length("html").alias("html_len"),
        F.md5("html").alias("html_md5"),
    )


SQL_WARC_ROUNDTRIP = """
SELECT 'https://src-' || source || '.example/doc/' || doc_id AS url,
       '2024-01-01T00:00:' || lpad((doc_id % 60)::varchar, 2, '0') || 'Z'
           AS warc_ts,
       (CASE WHEN doc_id % 10 = 0 THEN 404 ELSE 200 END)::int AS http_status,
       strlen(text)::int AS html_len,
       md5(text) AS html_md5
FROM documents WHERE doc_id < 100
"""


def q_lang_id_hist(spark, sf):
    """Language-ID (marker-word heuristic, JVM-side) histogram."""
    d = t(spark, sf, "documents")
    return d.groupBy(lang_id_expr(F.col("text")).alias("lang_id")).agg(
        F.count("*").alias("n")
    )


def _sql_marker_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


SQL_LANG_ID = f"""
WITH toks AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN []::varchar[]
         ELSE list_transform(regexp_split_to_array(trim(text), '\\s+'),
                             x -> lower(x)) END AS tk
  FROM documents
), sc AS (
  SELECT doc_id,
    len(list_filter(tk, x -> list_contains({_sql_marker_list(LANG_MARKERS["en"])}, x))) AS en,
    len(list_filter(tk, x -> list_contains({_sql_marker_list(LANG_MARKERS["es"])}, x))) AS es,
    len(list_filter(tk, x -> list_contains({_sql_marker_list(LANG_MARKERS["fr"])}, x))) AS fr,
    len(list_filter(tk, x -> list_contains({_sql_marker_list(LANG_MARKERS["de"])}, x))) AS de
  FROM toks
)
SELECT CASE WHEN greatest(en, es, fr, de) = 0 THEN 'und'
            WHEN en = greatest(en, es, fr, de) THEN 'en'
            WHEN es = greatest(en, es, fr, de) THEN 'es'
            WHEN fr = greatest(en, es, fr, de) THEN 'fr'
            ELSE 'de' END AS lang_id, count(*) AS n
FROM sc GROUP BY 1
"""


def q_embedding_neardup_exact(spark, sf):
    """Embedding-cosine near-dup pairs (exact self-join baseline, ≥ 0.45)."""
    from mizzounewscrawler_spark.operators.similarity import exact_neardup_pairs

    emb = t(spark, sf, "embeddings")
    return exact_neardup_pairs(emb, threshold=0.45)


SQL_EMB_NEARDUP = """
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::double[], b.embedding::double[]) /
               (sqrt(list_dot_product(a.embedding::double[], a.embedding::double[])) *
                sqrt(list_dot_product(b.embedding::double[], b.embedding::double[]))),
               6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.45
"""


def q_containment_search(spark, sf):
    """Set-containment join (boolean AND search): every (query, doc) pair
    where the query's token set is a subset of the doc's — rarest-token
    prefix filter + JVM forall verify (operators/search.py; LCJoin shape).
    Query fixture: three docs' first two tokens."""
    from mizzounewscrawler_spark.functions.text import tokens_expr
    from mizzounewscrawler_spark.operators.search import containment_join

    docs = t(spark, sf, "documents")
    toks = F.transform(tokens_expr(F.col("text")), lambda x: F.lower(x))
    d = docs.where(F.trim(F.col("text")) != "").select(
        "doc_id", toks.alias("tokens")
    )
    q = d.where(F.col("doc_id").isin(3, 57, 101)).select(
        F.col("doc_id").alias("q_id"),
        F.slice("tokens", 1, 2).alias("q_tokens"),
    )
    return containment_join(d, q, "doc_id", "tokens", "q_id", "q_tokens")


SQL_CONTAINMENT = """
WITH dt AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\\s+'),
                        x -> lower(x)) AS toks
  FROM documents WHERE trim(text) <> ''
),
q AS (
  SELECT doc_id AS q_id, toks[1:2] AS qtoks FROM dt
  WHERE doc_id IN (3, 57, 101)
)
SELECT q.q_id, d.doc_id
FROM q JOIN dt d ON list_has_all(d.toks, q.qtoks)
"""


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): md5-seeded k-means assignment (one
    pass, SQL-mirrorable), then within-cluster prune — a doc is removed iff
    an earlier doc in ascending (centroid_sim, id) order has cosine ≥ 0.30.
    The paper's trick: clustering bounds the quadratic step to O(Σ m_c²)."""
    from mizzounewscrawler_spark.operators.similarity import semdedup

    emb = t(spark, sf, "embeddings")
    return semdedup(emb, n_clusters=8, threshold=0.30, iters=0)


SQL_SEMDEDUP = """
WITH base AS (
  SELECT vec_id AS id, embedding::double[] AS v,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT) % 8
           AS seed_cell
  FROM embeddings
),
cent_raw AS (
  SELECT seed_cell, unnest(v) AS x, generate_subscripts(v, 1) AS dim FROM base
),
cent AS (
  SELECT seed_cell, dim, round(avg(x), 9) AS mean_x
  FROM cent_raw GROUP BY seed_cell, dim
),
cents AS (
  SELECT seed_cell AS cell, list(mean_x ORDER BY dim) AS c FROM cent
  GROUP BY seed_cell
),
scored AS (
  SELECT b.id, b.v, c.cell,
         CASE WHEN sqrt(list_dot_product(b.v, b.v))
                   * sqrt(list_dot_product(c.c, c.c)) > 0
              THEN round(list_dot_product(b.v, c.c)
                         / (sqrt(list_dot_product(b.v, b.v))
                            * sqrt(list_dot_product(c.c, c.c))), 6)
              ELSE -2.0 END AS sim
  FROM base b CROSS JOIN cents c
),
assign AS (
  SELECT id, v, cell, sim AS centroid_sim
  FROM (SELECT *, row_number() OVER (PARTITION BY id
                                     ORDER BY sim DESC, cell DESC) AS rn
        FROM scored)
  WHERE rn = 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cell
                               ORDER BY centroid_sim ASC, id ASC) AS rnk
  FROM assign
)
SELECT a.id AS vec_id, a.cell, a.centroid_sim,
       NOT EXISTS (
         SELECT 1 FROM ranked b
         WHERE b.cell = a.cell AND b.rnk < a.rnk
           AND round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
       ) AS kept
FROM ranked a
"""


# --------------------------------------------------------------------------
# rows-only queries (non-SQL-expressible: LSH, simhash, crawl engine)
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# SQL-mirror fixtures: DuckDB lacks the signature primitives (xxhash64, the
# extraction cascade), so those queries compute their signatures in Spark,
# persist them as ONE small parquet file, read it BACK, and run the
# downstream logic (banding, bucket joins, Hamming filters, groupBys) in
# both engines over byte-identical inputs — upgrading them from rows-only
# to full value-hash oracles (VERDICT r3 next #5).  The signature
# computations themselves keep their recall/unit-test coverage.
# --------------------------------------------------------------------------

_FIX_DIR = "/tmp/mnc_oracle_fixtures"


def _write_fixture(pdf, name: str) -> str:
    """Write a small deterministic pandas frame as one parquet file (atomic
    rename) and return its path."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_FIX_DIR, exist_ok=True)
    p = os.path.join(_FIX_DIR, f"{name}.parquet")
    tmp = p + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, p)
    return p


def q_doc_fingerprints(spark, sf):
    """Rolling-hash document fingerprint (min-xxhash over word 3-shingles).
    Spark computes the per-shingle hashes (DuckDB has no xxhash64) and
    persists the (doc_id, h) postings; BOTH engines reduce min(h) per doc
    over that fixture."""
    from mizzounewscrawler_spark.functions.text import word_shingles_expr

    d = t(spark, sf, "documents").where(F.col("doc_id") < 200)
    postings = d.select(
        "doc_id",
        F.explode(word_shingles_expr(F.col("text"), 3)).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("h"))
    path = _write_fixture(postings.toPandas(), "fp_postings")
    return (
        read_parquet(spark, path)
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
    )


SQL_DOC_FINGERPRINTS = f"""
SELECT doc_id, min(h) AS fingerprint
FROM '{_FIX_DIR}/fp_postings.parquet'
GROUP BY doc_id
"""


def q_compression_quality(spark, sf):
    """zlib compression-ratio quality bands (Dolma/RefinedWeb
    repetitiveness proxy).  Spark computes the per-doc ratio (zlib has no
    DuckDB function) and persists the fixture; BOTH engines band and
    aggregate the identical doubles — count/min/max only (order-free, so
    no float-summation divergence)."""
    from mizzounewscrawler_spark.functions.text import compression_ratio_col

    d = t(spark, sf, "documents")
    ratios = d.select(
        "doc_id", compression_ratio_col(F.col("text")).alias("ratio")
    )
    path = _write_fixture(ratios.toPandas(), "zlib_ratios")
    fx = read_parquet(spark, path).where(F.col("ratio").isNotNull())
    band = (
        F.when(F.col("ratio") < 0.35, "repetitive")
        .when(F.col("ratio") <= 0.8, "normal")
        .otherwise("noisy")
    )
    return fx.select(band.alias("band"), "ratio").groupBy("band").agg(
        F.count("*").alias("n_docs"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
    )


SQL_COMPRESSION_QUALITY = f"""
SELECT CASE WHEN ratio < 0.35 THEN 'repetitive'
            WHEN ratio <= 0.8 THEN 'normal'
            ELSE 'noisy' END AS band,
       count(*) AS n_docs, min(ratio) AS min_ratio, max(ratio) AS max_ratio
FROM '{_FIX_DIR}/zlib_ratios.parquet'
WHERE ratio IS NOT NULL
GROUP BY 1
"""

def q_corpus_shuffle(spark, sf):
    """Deterministic global corpus shuffle + shard assignment
    (``operators.sampling.global_shuffle``): md5-keyed total order, one
    range-partitioned sort at scale, reproducible under any input
    partitioning — the decorrelation step before sequence packing."""
    from mizzounewscrawler_spark.operators.sampling import global_shuffle

    d = t(spark, sf, "documents").select("doc_id")
    return global_shuffle(d, "doc_id", seed="42", shard_size=100).where(
        F.col("shuffle_rank") < 300
    )


SQL_CORPUS_SHUFFLE = """
SELECT doc_id,
       row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                          doc_id) - 1 AS shuffle_rank,
       CAST((row_number() OVER (ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)),
                                doc_id) - 1) // 100 AS INT) AS shard
FROM documents
QUALIFY shuffle_rank < 300
"""


_HASH_EMBED_DIM = 32


def q_hash_embed_topk(spark, sf):
    """Text → vector → ANN, end to end with NO fixture: the signed
    feature-hashing embedding (``functions.text.hash_embedding_expr``,
    Weinberger et al. 2009 — md5-hex-pinned like the HLL/CMS sketches)
    produces bit-identical INTEGER vectors in both engines, so DuckDB
    recomputes the entire pipeline — tokenize, hash-embed, integer dot
    products and norms against the query document, IEEE-exact cosine —
    from the raw documents table.  Query = doc_id 7's own vector
    (embarrassingly parallel scan + TakeOrdered top-k; the LSH/IVF
    operators in ``operators/similarity`` are the recall-at-scale path
    over the same vectors)."""
    from mizzounewscrawler_spark.functions.text import hash_embedding_expr

    d = t(spark, sf, "documents")
    emb = d.select(
        "doc_id",
        hash_embedding_expr(F.col("text"), _HASH_EMBED_DIM).alias("v"),
    )
    q = emb.where(F.col("doc_id") == 7).collect()[0]["v"]
    qq = int(sum(x * x for x in q))
    qarr = F.array(*[F.lit(int(x)).cast("long") for x in q])
    return (
        emb.select(
            "doc_id",
            F.aggregate(
                F.zip_with(F.col("v"), qarr, lambda a, b: a * b),
                F.lit(0).cast("long"), lambda acc, x: acc + x,
            ).alias("dot"),
            F.aggregate(
                F.transform("v", lambda a: a * a),
                F.lit(0).cast("long"), lambda acc, x: acc + x,
            ).alias("vv"),
        )
        .where(F.col("vv") > 0)
        .select(
            "doc_id", "dot", "vv",
            (
                F.col("dot").cast("double")
                / F.sqrt((F.col("vv") * F.lit(qq)).cast("double"))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


SQL_HASH_EMBED = rf"""
WITH tok AS (
  SELECT doc_id, lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS tok
  FROM documents WHERE trim(coalesce(text,'')) <> ''
),
bs AS (SELECT doc_id,
         CAST('0x'||substring(md5(tok),1,8) AS BIGINT) % {_HASH_EMBED_DIM} AS b,
         CASE WHEN CAST('0x'||substring(md5(tok),9,1) AS BIGINT) < 8
              THEN 1 ELSE -1 END AS s
       FROM tok),
emb AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v FROM bs GROUP BY 1, 2),
norm AS (SELECT doc_id, CAST(sum(v*v) AS BIGINT) AS vv FROM emb GROUP BY 1),
qv AS (SELECT b, v FROM emb WHERE doc_id = 7),
qn AS (SELECT CAST(sum(v*v) AS BIGINT) AS qq FROM qv),
dots AS (SELECT e.doc_id, CAST(sum(e.v * q.v) AS BIGINT) AS dot
         FROM emb e JOIN qv q USING (b) GROUP BY 1)
SELECT n.doc_id, coalesce(d.dot, 0) AS dot, n.vv,
       CAST(coalesce(d.dot, 0) AS DOUBLE)
         / sqrt(CAST(n.vv * (SELECT qq FROM qn) AS DOUBLE)) AS score
FROM norm n LEFT JOIN dots d USING (doc_id)
WHERE n.vv > 0
ORDER BY score DESC, doc_id LIMIT 20
"""


_BPE_NUM_MERGES = 30


def q_bpe_tokenize(spark, sf):
    """Trainable BPE subword tokenizer (Sennrich et al. 2016), end to end.

    The distributed halves run in Spark and are BOTH independently
    verified by the oracle: (1) the corpus-sized word histogram (explode +
    groupBy — DuckDB recomputes it from ``documents`` with the same
    whitespace split as the token_stats mirror), and (2) the distributed
    ``bpe_encode`` pass over the vocabulary (DuckDB replays the encoding
    as a recursive CTE applying each persisted merge rank in order —
    single leftmost substitution per step, the exact semantics of
    ``operators.bpe.encode_word``).  Only the DRIVER-side merge learning
    travels through the fixture (rank, left, right — it is
    vocabulary-sized and pinned by hand-computed unit tests in
    tests/test_bpe.py); the per-word initial character split rides the
    fixture too so the SQL needs no char-split primitive."""
    import pandas as pd

    from mizzounewscrawler_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
        word_histogram,
    )

    d = t(spark, sf, "documents")
    hist = word_histogram(d, "text")
    wc = sorted(
        (r["word"], r["n"]) for r in hist.collect()
    )  # vocabulary-sized; sorted so training order is partition-free
    merges = train_bpe(wc, _BPE_NUM_MERGES)
    # the SQL fold terminates at r == _BPE_NUM_MERGES, advancing one rank
    # per non-matching step — if training stopped early (pair floor /
    # vocabulary exhausted), pad with a provably unmatchable pair (tokens
    # come from a whitespace split, so no token is ever ' ') so every
    # rank exists and the fold still reaches the terminal state
    padded = merges + [(" ", " ")] * (_BPE_NUM_MERGES - len(merges))
    _write_fixture(
        pd.DataFrame(
            [(i, l, r) for i, (l, r) in enumerate(padded)],
            columns=["rank", "left", "right"],
        ),
        "bpe_merges",
    )
    inits = pd.DataFrame({"word": [w for w, _ in wc]})
    inits["init"] = inits["word"].map(lambda w: " ".join(list(w)))
    _write_fixture(inits, "bpe_inits")

    encoded = bpe_encode(
        hist.select("word", "n", F.col("word").alias("_as_text")),
        "_as_text",
        merges,
    )
    return encoded.select(
        "word",
        "n",
        F.concat_ws(" ", F.col("bpe_tokens")).alias("encoded"),
        F.size("bpe_tokens").alias("n_subwords"),
    )


SQL_BPE_TOKENIZE = f"""
WITH RECURSIVE
w AS (SELECT trim(text) t FROM documents WHERE trim(coalesce(text,'')) <> ''),
tok AS (SELECT unnest(regexp_split_to_array(t, '\\s+')) AS word FROM w),
hist AS (SELECT word, count(*) AS n FROM tok GROUP BY word),
m AS (SELECT rank, ' '||"left"||' '||"right"||' ' AS pat,
             ' '||"left"||"right"||' ' AS rep
      FROM '{_FIX_DIR}/bpe_merges.parquet'),
fold AS (
  SELECT word, ' '||init||' ' AS toks, 0 AS r
  FROM '{_FIX_DIR}/bpe_inits.parquet'
  UNION ALL
  SELECT f.word,
    CASE WHEN position(m.pat IN f.toks) > 0
      THEN substr(f.toks, 1, position(m.pat IN f.toks)-1) || m.rep
           || substr(f.toks, position(m.pat IN f.toks) + length(m.pat))
      ELSE f.toks END,
    CASE WHEN position(m.pat IN f.toks) > 0 THEN f.r ELSE f.r + 1 END
  FROM fold f JOIN m ON m.rank = f.r
  WHERE f.r < {_BPE_NUM_MERGES}
),
enc AS (SELECT word, trim(toks) AS encoded FROM fold WHERE r = {_BPE_NUM_MERGES})
SELECT h.word, h.n, e.encoded,
       len(regexp_split_to_array(e.encoded, ' ')) AS n_subwords
FROM hist h JOIN enc e USING (word)
"""


def q_ivf_ann(spark, sf):
    """IVF-style ANN top-10 (deterministic coarse quantizer, nprobe cells).
    SQL mirror via the fixture pattern: Spark computes the IVF candidate
    set (centroid means + argmax assignment + nprobe probing — xxhash64
    seeding, not in DuckDB) and persists the candidate ids; BOTH engines
    then score the identical candidate set against the embeddings table
    with exact rounded cosine and take the top 10."""
    from mizzounewscrawler_spark.operators.similarity import (
        cosine_topk,
        ivf_candidates,
    )

    emb = t(spark, sf, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qvec = [float(x) for x in qvec]
    cand = ivf_candidates(emb.where(F.col("vec_id") > 0), qvec).select("vec_id")
    path = _write_fixture(
        cand.toPandas().sort_values("vec_id"), "ivf_candidates"
    )
    cand_ids = read_parquet(spark, path)
    return cosine_topk(emb.join(cand_ids, "vec_id"), qvec, k=10)


SQL_IVF_ANN = f"""
WITH q AS (SELECT embedding::double[] AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id FROM '{_FIX_DIR}/ivf_candidates.parquet')
SELECT e.vec_id,
       round(list_dot_product(e.embedding::double[], qv) /
             (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
              sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings e JOIN c USING (vec_id), q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_embedding_neardup_lsh(spark, sf):
    """LSH-bucketed embedding near-dup (the 100 TB path for
    q_embedding_neardup_exact).  SQL mirror via the fixture pattern: Spark
    computes the LSH bucket-join candidate PAIRS (sign-hyperplane
    signatures — xxhash64, not in DuckDB) and persists (id_a, id_b); BOTH
    engines then exact-verify cosine ≥ threshold over the embeddings
    table for the identical pair set."""
    from mizzounewscrawler_spark.operators.similarity import (
        cosine_expr,
        embedding_neardup_candidates,
    )

    emb = t(spark, sf, "embeddings")
    cand = embedding_neardup_candidates(emb, dim=64).select("id_a", "id_b")
    path = _write_fixture(
        cand.toPandas().sort_values(["id_a", "id_b"]), "emb_lsh_pairs"
    )
    pairs = read_parquet(spark, path)
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    j = (
        pairs.join(base.withColumnRenamed("v", "va"), pairs.id_a == base.vec_id)
        .drop("vec_id")
        .join(
            base.withColumnRenamed("v", "vb").withColumnRenamed(
                "vec_id", "vec_id_b"
            ),
            F.col("id_b") == F.col("vec_id_b"),
        )
    )
    cos = F.round(cosine_expr(F.col("va"), F.col("vb")), 6)
    return (
        j.select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.45)
    )


SQL_EMB_NEARDUP_LSH = f"""
SELECT * FROM (
  SELECT p.id_a, p.id_b,
         round(list_dot_product(ea.embedding::double[], eb.embedding::double[]) /
               (sqrt(list_dot_product(ea.embedding::double[], ea.embedding::double[])) *
                sqrt(list_dot_product(eb.embedding::double[], eb.embedding::double[]))), 6)
           AS cosine
  FROM '{_FIX_DIR}/emb_lsh_pairs.parquet' p
  JOIN embeddings ea ON ea.vec_id = p.id_a
  JOIN embeddings eb ON eb.vec_id = p.id_b
) WHERE cosine >= 0.45
"""


def q_multimodal_metadata(spark, sf):
    """Multimodal plumbing: decode typed metadata from opaque binary media
    (deterministic fake backend; real codecs are stubbed per brief)."""
    from mizzounewscrawler_spark.operators.multimodal import (
        decode_metadata,
        generate_fake_media,
    )

    media = generate_fake_media(spark, n=200, seed=7)
    return decode_metadata(media).select(
        "media_id", "kind", "width", "height", "frames", "n_bytes"
    )


# The fixture media is generated by pure index arithmetic and the decode
# parses it back out of the binary header, so the oracle recomputes every
# metadata column from the same arithmetic WITHOUT the binary: a header
# mis-parse (offset, endianness, padding) in DecodeBackend breaks the match.
SQL_MULTIMODAL = """
SELECT i AS media_id,
       CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
           AS kind,
       (64 + (i % 8) * 32)::int AS width,
       (48 + (i % 5) * 32)::int AS height,
       (CASE i % 3 WHEN 2 THEN 30 * (1 + i % 4) WHEN 0 THEN 1 ELSE 0 END)::int
           AS frames,
       (32 + least((64 + (i % 8) * 32) * (48 + (i % 5) * 32), 4096))::int
           AS n_bytes
FROM range(200) t(i)
"""


def q_minhash_neardup(spark, sf):
    """MinHash+LSH near-dup pairs, small-N SQL mirror: Spark computes the
    16-hash signatures (xxhash64 — not in DuckDB) and persists them; the
    banded bucket self-join (4 bands × 4 rows, bucket key = the band's
    joined signature slice) runs identically in both engines over the
    fixture.  Full-size xxhash64-bucketed variant: dedup.minhash_lsh_pairs
    (recall≥0.9 contract in tests/test_dedup.py)."""
    from mizzounewscrawler_spark.functions.text import minhash_signature_expr

    d = t(spark, sf, "documents").where(F.col("doc_id") < 500)
    sigs = d.select(
        "doc_id", minhash_signature_expr(F.col("text"), 16, 3).alias("sig")
    ).where(~F.array_contains(F.transform("sig", lambda x: x.isNull()), True))
    path = _write_fixture(sigs.toPandas(), "minhash_sigs")
    s = read_parquet(spark, path)
    band_ids = F.sequence(F.lit(0), F.lit(3))
    banded = s.select(
        "doc_id",
        F.explode(
            F.transform(
                band_ids,
                lambda b: F.struct(
                    b.alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), b * 4 + 1, 4),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


SQL_MINHASH = f"""
WITH sigs AS (SELECT * FROM '{_FIX_DIR}/minhash_sigs.parquet'),
banded AS (
  SELECT doc_id, b.band AS band,
         array_to_string(list_slice(sig, b.band*4+1, b.band*4+4), ',') AS bucket
  FROM sigs, (SELECT unnest(range(0,4)) AS band) b
)
SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
FROM banded a JOIN banded b2
  ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
"""


def q_incremental_neardup(spark, sf):
    """Incremental near-dup: a new batch (doc_id % 5 == 0 — 'this wave')
    probed against the persisted LSH band index of the already-ingested
    corpus (the rest) — the corpus text is never rescanned.  Spark computes
    the 16-hash signatures (xxhash64, not in DuckDB) and persists them;
    banding + the probe equi-join run identically in both engines
    (hashed_buckets=False keeps bucket keys as recomputable strings).
    Production path: dedup.minhash_band_postings persisted per snapshot +
    dedup.incremental_neardup per wave; cross-pair parity with
    minhash_lsh_pairs pinned in tests/test_dedup.py."""
    from mizzounewscrawler_spark.functions.text import minhash_signature_expr
    from mizzounewscrawler_spark.operators.dedup import (
        incremental_neardup,
        minhash_band_postings,
    )

    d = t(spark, sf, "documents").where(F.col("doc_id") < 500)
    sigs = d.select(
        "doc_id", minhash_signature_expr(F.col("text"), 16, 3).alias("sig")
    ).where(~F.array_contains(F.transform("sig", lambda x: x.isNull()), True))
    path = _write_fixture(sigs.toPandas(), "incr_minhash_sigs")
    s = read_parquet(spark, path)
    index = minhash_band_postings(
        s.where(F.col("doc_id") % 5 != 0), "doc_id", sig_col="sig",
        num_hashes=16, bands=4, hashed_buckets=False,
    )
    return incremental_neardup(
        s.where(F.col("doc_id") % 5 == 0), index, "doc_id", sig_col="sig",
        num_hashes=16, bands=4, hashed_buckets=False,
    )


SQL_INCR_NEARDUP = f"""
WITH sigs AS (SELECT * FROM '{_FIX_DIR}/incr_minhash_sigs.parquet'),
banded AS (
  SELECT doc_id, b.band AS band,
         array_to_string(list_slice(sig, b.band*4+1, b.band*4+4), ',') AS bucket
  FROM sigs, (SELECT unnest(range(0,4)) AS band) b
)
SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
FROM banded n JOIN banded c ON n.band = c.band AND n.bucket = c.bucket
WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
"""


def q_simhash_neardup(spark, sf):
    """SimHash near-dup pairs, small-N SQL mirror: Spark computes the
    64-bit Charikar hashes (xxhash64 token hashing — not in DuckDB) and
    persists them; the 4×16-bit block candidate join + exact popcount
    filter (Hamming ≤ 3) runs identically in both engines.  Full-size
    variant: dedup.simhash_neardup_pairs (recall contract in tests)."""
    from mizzounewscrawler_spark.functions.text import simhash_expr

    d = t(spark, sf, "documents").where(F.col("doc_id") < 500)
    sh = d.select("doc_id", simhash_expr(F.col("text")).alias("sh")).where(
        F.col("sh").isNotNull()
    )
    path = _write_fixture(sh.toPandas(), "simhash_sigs")
    s = read_parquet(spark, path)
    blocks = s.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("sh"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.blk", "b.val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return cand.where(
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3
    ).select("id_a", "id_b")


SQL_SIMHASH = f"""
WITH sh AS (SELECT * FROM '{_FIX_DIR}/simhash_sigs.parquet'),
blocks AS (
  SELECT doc_id, sh, b.blk AS blk, (sh >> (b.blk*16)) & 65535 AS val
  FROM sh, (SELECT unnest(range(0,4)) AS blk) b
)
SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
FROM blocks a JOIN blocks b2
  ON a.blk = b2.blk AND a.val = b2.val AND a.doc_id < b2.doc_id
WHERE bit_count(xor(a.sh, b2.sh)) <= 3
"""


def q_lsh_ann(spark, sf):
    """Single-scan LSH ANN top-10.  SQL mirror via the fixture pattern:
    Spark evaluates the whole-stage-codegen'd LSH bucket predicate
    (xxhash64 hyperplanes — not in DuckDB) and persists the candidate
    ids; BOTH engines then score the identical candidate set with exact
    rounded cosine and take the top 10."""
    from mizzounewscrawler_spark.operators.similarity import (
        cosine_topk,
        lsh_match_expr,
    )

    emb = t(spark, sf, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qvec = [float(x) for x in qvec]
    cand = (
        emb.where(F.col("vec_id") > 0)
        .where(lsh_match_expr(qvec))
        .select("vec_id")
    )
    path = _write_fixture(
        cand.toPandas().sort_values("vec_id"), "lsh_ann_candidates"
    )
    cand_ids = read_parquet(spark, path)
    return cosine_topk(emb.join(cand_ids, "vec_id"), qvec, k=10)


SQL_LSH_ANN = f"""
WITH q AS (SELECT embedding::double[] AS qv FROM embeddings WHERE vec_id = 0),
c AS (SELECT vec_id FROM '{_FIX_DIR}/lsh_ann_candidates.parquet')
SELECT e.vec_id,
       round(list_dot_product(e.embedding::double[], qv) /
             (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[])) *
              sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings e JOIN c USING (vec_id), q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def _fixture_wave(spark):
    """One politeness wave (scheduler → fetch → extraction cascade) over the
    tiny in-memory fixture web — shared by the crawl-surface queries."""
    from mizzounewscrawler_spark.operators.extraction import (
        fetch_and_extract,
        with_status,
    )
    from mizzounewscrawler_spark.crawl import seed_frontier
    from mizzounewscrawler_spark.operators.scheduler import build_wave
    from mizzounewscrawler_spark.sources.generator import generate_web

    web = generate_web(seed=42, n_hosts=4, target_pages=80)
    pages = spark.createDataFrame(web.pages)
    seeds = spark.createDataFrame(web.seeds)
    robots = spark.createDataFrame(web.robots)
    frontier = seed_frontier(spark, seeds)
    wave = build_wave(frontier, seeds, robots, None, wave_ts=0.0)
    return with_status(fetch_and_extract(wave, pages))


def q_crawl_wave(spark, sf):
    """One politeness wave of the crawl engine on an in-memory fixture web —
    exposes scheduler+extraction+dedup to the driver as a rows-only check."""
    out = _fixture_wave(spark)
    return out.select("url", "seq", "fetch_status", "content_hash").orderBy("seq")


def q_extractor_method_stats(spark, sf):
    """A8: extraction-method success counters (reference global Counter,
    /root/reference/src/mcmetadata/content.py:57,87-97).  The wave results
    come from the real scheduler→fetch→extraction cascade over the fixture
    web (no SQL equivalent), so they are persisted and BOTH engines run the
    counting groupBy over the same fixture parquet."""
    out = _fixture_wave(spark)
    pdf = out.select("url", "method", "fetch_status", "found").toPandas()
    path = _write_fixture(pdf.sort_values("url"), "wave_results")
    return (
        read_parquet(spark, path)
        .where(F.col("found"))
        .groupBy("method", "fetch_status")
        .agg(F.count("*").alias("n"))
    )


SQL_METHOD_STATS = f"""
SELECT method, fetch_status, count(*) AS n
FROM '{_FIX_DIR}/wave_results.parquet'
WHERE found
GROUP BY method, fetch_status
"""


def q_articles_per_source(spark, sf):
    """A10: existing-article count per source (reference saturation check,
    /root/reference/src/crawler/discovery.py:1979-2003), over the driver's
    ``documents`` table: every doc counts as fetched, the content-length
    gate (F12 analog) breaks out the article subset."""
    d = t(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_fetched"),
        F.sum(F.when(F.col("n_chars") >= 500, 1).otherwise(0)).alias(
            "n_articles"
        ),
    )


SQL_ARTICLES_PER_SOURCE = """
SELECT source, count(*) AS n_fetched,
       CAST(sum(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_articles
FROM documents
GROUP BY source
"""


def q_never_attempted_first(spark, sf):
    """O2 never-attempted-first ordering (reference ``ORDER BY
    discovery_attempted ASC, canonical_name ASC``, discovery.py:2195),
    restated over customer/orders: customers with no orders rank first.
    The rank is emitted as a column so the order itself is value-checked
    (the driver's compare is order-insensitive)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders")
    attempted = o.select("o_custkey").distinct()
    flagged = c.join(
        attempted, c["c_custkey"] == attempted["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_name",
        F.col("o_custkey").isNotNull().alias("attempted"),
    )
    w = Window.orderBy(F.col("attempted").asc(), F.col("c_name").asc())
    return flagged.withColumn("pick_rank", F.row_number().over(w))


SQL_NEVER_ATTEMPTED = """
SELECT c_custkey, c_name, attempted,
       CAST(row_number() OVER (ORDER BY attempted ASC, c_name ASC) AS INT)
           AS pick_rank
FROM (
  SELECT c_custkey, c_name,
         EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS attempted
  FROM customer
)
"""


def q_proxy_pattern_discovery(spark, sf):
    """S6 proxy-scraping discovery (reference discovery.py:2328-2410) over
    the documents table: each document plays a bot-walled homepage whose
    single article path lives in a JS payload (no anchors), and two
    sources carry DIFFERENT per-host patterns — exercising the
    when-chained per-host regex fold and the absolutization path."""
    from mizzounewscrawler_spark.operators.proxy_discovery import (
        load_proxy_patterns,
        proxy_pattern_discover,
    )

    d = t(spark, sf, "documents").where(F.col("source").isin("src0", "src1"))
    host = F.concat(F.lit("www."), F.col("source"), F.lit(".test"))
    slug = F.regexp_replace(F.substring(F.col("text"), 1, 12), "[^a-z]", "-")
    html = F.concat(
        F.lit('<script>{"articles":[{"url":"/stories/'),
        slug,
        F.lit(","),
        F.col("doc_id").cast("string"),
        F.lit('"}]}</script>'),
    )
    fetched = d.select(
        F.concat(F.lit("https://"), host, F.lit("/")).alias("url"),
        host.alias("host"),
        html.cast("binary").alias("html_kept"),
    )
    pats = load_proxy_patterns(
        spark,
        [
            ("www.src0.test", r'/stories/[^",]+,\d+'),
            # src1's stricter pattern only matches slugs starting a-f (or
            # the '-' replacement char) — per-host divergence is the point
            ("www.src1.test", r'/stories/[a-f-][^",]*,\d+'),
        ],
    )
    out = proxy_pattern_discover(fetched, pats)
    return (
        out.groupBy("host")
        .agg(F.count("*").alias("n_links"), F.min("url").alias("first_link"))
        .orderBy("host")
    )


SQL_PROXY_PATTERN = r"""
WITH fetched AS (
  SELECT 'www.' || source || '.test' AS host,
         '<script>{"articles":[{"url":"/stories/'
           || regexp_replace(substring(text, 1, 12), '[^a-z]', '-', 'g')
           || ',' || doc_id || '"}]}</script>' AS html
  FROM documents WHERE source IN ('src0', 'src1')
), m AS (
  SELECT host, unnest(regexp_extract_all(html, '/stories/[^",]+,\d+')) AS path
  FROM fetched WHERE host = 'www.src0.test'
  UNION ALL
  SELECT host, unnest(regexp_extract_all(html, '/stories/[a-f-][^",]*,\d+')) AS path
  FROM fetched WHERE host = 'www.src1.test'
), links AS (
  SELECT DISTINCT host, 'https://' || host || path AS url FROM m
)
SELECT host, count(*) AS n_links, min(url) AS first_link
FROM links GROUP BY host ORDER BY host
"""


def q_label_drift(spark, sf):
    """ml_results drift audit (``plans/mlops.label_drift``): per
    (model_version, label) primary-label share + mean score over a
    TWO-version deterministic score history derived from ``documents``
    — version m2 biases every 4th row toward 'civic', the SQL-visible
    stand-in for retrained weights shifting decisions.  Scores are
    dyadic (k/256), so their sums are exact in double regardless of
    aggregation order and the cross-engine mean is bit-stable.
    Reference: ml_results score history, src/models/__init__.py:237-268.
    """
    from mizzounewscrawler_spark.plans.mlops import label_drift

    d = t(spark, sf, "documents").select(
        F.col("doc_id").cast("long").alias("article_id")
    )
    labs = F.array(F.lit("civic"), F.lit("crime"), F.lit("sports"))

    def ver(tag: str, biased: bool):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("article_id").cast("string"), F.lit(":" + tag)
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        idx = F.pmod(h, F.lit(3))
        if biased:
            idx = F.when(F.pmod(h, F.lit(4)) == 0, F.lit(0)).otherwise(idx)
        score = F.pmod(h, F.lit(256)) / F.lit(256.0)
        return d.select(
            "article_id",
            F.lit(tag).alias("model_version"),
            F.lit("classifier").alias("model_type"),
            F.element_at(labs, (idx + 1).cast("int")).alias("label"),
            score.alias("score"),
            score.alias("confidence"),
            F.lit(1).alias("rank"),
        )

    return label_drift(ver("m1", False).unionByName(ver("m2", True)))


SQL_LABEL_DRIFT = """
WITH hist AS (
  SELECT CAST(doc_id AS BIGINT) AS article_id, 'm1' AS model_version,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':m1'), 1, 4)
              AS INTEGER) AS h,
         false AS biased
  FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT), 'm2',
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':m2'), 1, 4)
              AS INTEGER),
         true
  FROM documents
), scored AS (
  SELECT model_version,
         CASE (CASE WHEN biased AND h % 4 = 0 THEN 0 ELSE h % 3 END)
              WHEN 0 THEN 'civic' WHEN 1 THEN 'crime' ELSE 'sports'
         END AS label,
         (h % 256) / 256.0 AS score
  FROM hist
), agg AS (
  SELECT model_version, label, count(*) AS n,
         round(avg(score), 6) AS avg_score,
         round(avg(score), 6) AS avg_confidence
  FROM scored GROUP BY model_version, label
), tot AS (
  SELECT model_version, sum(n) AS version_n FROM agg GROUP BY model_version
)
SELECT a.model_version, a.label, a.n, a.avg_score, a.avg_confidence,
       round(CAST(a.n AS DOUBLE) / t.version_n, 6) AS share
FROM agg a JOIN tot t USING (model_version)
ORDER BY model_version, label
"""


CATALOG: list[QuerySpec] = [
    QuerySpec("pricing_summary", q_pricing_summary, SQL_PRICING, "A2/A4"),
    QuerySpec("top_customers", q_top_customers, SQL_TOP_CUSTOMERS, "A1"),
    QuerySpec("status_counts", q_status_counts, SQL_STATUS_COUNTS, "A2"),
    QuerySpec("string_agg_entities", q_string_agg, SQL_STRING_AGG, "A3"),
    QuerySpec("last_processed_per_key", q_last_processed, SQL_LAST_PROCESSED, "A5"),
    QuerySpec("anti_join_unfetched", q_anti_join, SQL_ANTI_JOIN, "J2"),
    QuerySpec("report_multi_join", q_report_join, SQL_REPORT_JOIN, "J1/J5"),
    QuerySpec("semi_join_membership", q_semi_join, SQL_SEMI_JOIN, "J3"),
    QuerySpec("dataset_scope", q_dataset_scope, SQL_DATASET_SCOPE, "S1 (datasets M:N)"),
    QuerySpec("geo_radius_join", q_geo_radius_join, SQL_GEO_RADIUS, "U7 (gazetteer radius join)"),
    QuerySpec("latest_per_key_window", q_latest_per_key, SQL_LATEST_PER_KEY, "J4"),
    QuerySpec("per_host_cap_window", q_per_host_cap, SQL_PER_HOST_CAP, "P9/A7"),
    QuerySpec("sessionize_events", q_sessionize, SQL_SESSIONIZE, "§2.9 streaming analog"),
    QuerySpec("recency_filter", q_recency_filter, SQL_RECENCY, "F6/P12"),
    QuerySpec("regex_panel_filter", q_rlike_panel, SQL_RLIKE, "F2/F3/F9"),
    QuerySpec("content_type_priority", q_content_type_priority, _sql_content_type(), "O5/C16/C17"),
    QuerySpec("json_extract", q_json_extract, SQL_JSON, "C12"),
    QuerySpec("content_hash_keys", q_hash_keys, SQL_HASH, "C3/C6"),
    QuerySpec("feed_date_parse", q_feed_date_parse, SQL_FEED_DATE, "C18/C9/F6"),
    QuerySpec("url_verification_chain", q_url_verification, _sql_verify(), "F3/F5/F9/U4"),
    QuerySpec("likely_article_filter", q_likely_article_filter, _sql_likely_article(), "F2/F10"),
    QuerySpec("proxy_pattern_discovery", q_proxy_pattern_discovery, SQL_PROXY_PATTERN, "S6"),
    QuerySpec("ner_gazetteer_match", q_ner_gazetteer, _sql_ner_gazetteer(), "U6/J6"),
    QuerySpec("hourly_rollup", q_hourly_rollup, SQL_HOURLY, "P13"),
    QuerySpec("host_error_rollup", q_host_error_rollup, SQL_HOST_ERROR, "A9"),
    QuerySpec("method_effectiveness_prune", q_method_effectiveness, SQL_METHOD_EFF, "A8/A9"),
    QuerySpec("publisher_stats", q_publisher_stats, SQL_PUBLISHER_STATS, "A9"),
    QuerySpec("due_cadence", q_due_cadence, SQL_DUE, "P1"),
    QuerySpec("union_discovery_dedup", q_union_dedup, SQL_UNION, "§2.7"),
    QuerySpec("exact_dedup_docs", q_exact_dedup, SQL_EXACT_DEDUP, "J8"),
    QuerySpec("llm_enrich_summaries", q_llm_enrich, SQL_LLM_ENRICH, "U8"),
    QuerySpec("token_stats", q_token_stats, SQL_TOKEN_STATS, "text ops"),
    QuerySpec("quality_scores", q_quality_scores, SQL_QUALITY, "text ops"),
    QuerySpec("ann_cosine_topk", q_ann_topk, SQL_ANN_TOPK, "similarity"),
    QuerySpec("embedding_centroids", q_embedding_label_centroids, SQL_CENTROIDS, "similarity"),
    QuerySpec("ngram_jaccard_neardup", q_ngram_jaccard, SQL_NGRAM_JACCARD, "dedup (exact Jaccard)"),
    QuerySpec("neardup_cluster_resolve", q_neardup_cluster_resolve, SQL_NEARDUP_RESOLVE, "dedup (cluster resolve)"),
    QuerySpec("pii_redaction", q_pii_redaction, SQL_PII, "text ops (PII scrub)"),
    QuerySpec("asof_join_latest_order", q_asof_join, SQL_ASOF, "temporal (as-of join)"),
    QuerySpec("range_join_windows", q_range_join, SQL_RANGE_JOIN, "temporal (range join)"),
    QuerySpec("gopher_quality", q_gopher_quality, SQL_GOPHER, "text ops (repetition gates)"),
    QuerySpec("ccnet_perplexity_buckets", q_ccnet_buckets, SQL_CCNET, "curation (CCNet LM quality buckets)"),
    QuerySpec("dsir_resample", q_dsir_resample, SQL_DSIR, "curation (DSIR importance resampling)"),
    QuerySpec("quality_classifier", q_quality_classifier, SQL_QUALITY_CLASSIFIER, "curation (trained quality filter)"),
    QuerySpec("tfidf_keywords", q_tfidf_keywords, SQL_TFIDF, "text ops (keyword extraction)"),
    QuerySpec("heavy_hitter_terms", q_heavy_hitters, SQL_HEAVY_HITTERS, "sketch (MG + exact recount)"),
    QuerySpec("hll_distinct", q_hll_distinct, SQL_HLL_DISTINCT, "sketch (HyperLogLog distinct)"),
    QuerySpec("cms_frequencies", q_cms_frequencies, SQL_CMS_FREQUENCIES, "sketch (count-min point queries)"),
    QuerySpec("quantile_sketch", q_quantile_sketch, SQL_QUANTILE_SKETCH, "sketch (log-binned HDR quantiles)"),
    QuerySpec("quality_yield_priority", q_quality_yield_priority, SQL_QUALITY_YIELD, "scheduler (focused-crawl re-rank)"),
    QuerySpec("slice_divergence", q_slice_divergence, SQL_SLICE_DIVERGENCE, "curation (mixture χ² diagnostic)"),
    QuerySpec("url_trap_mining", q_url_trap_mining, SQL_URL_TRAPS, "F4 producer (crawler-trap templates)"),
    QuerySpec("pagerank_hosts", q_pagerank_hosts, SQL_PAGERANK, "graph (host authority)"),
    QuerySpec("multires_rollup", q_multires_rollup, SQL_MULTIRES, "A9/P13 (rollup cascade)"),
    QuerySpec("corpus_split", q_corpus_split, SQL_CORPUS_SPLIT, "sampling (hash split)"),
    QuerySpec("corpus_curation", q_corpus_curation, SQL_CORPUS_CURATION, "pipeline (filter+dedup+split)"),
    QuerySpec("chunk_documents", q_chunk_documents, SQL_CHUNKS, "chunking (training windows)"),
    QuerySpec("pack_sequences", q_pack_sequences, SQL_PACK_SEQUENCES, "chunking (sequence packing)"),
    QuerySpec("warc_roundtrip", q_warc_roundtrip, SQL_WARC_ROUNDTRIP, "source (WARC ingestion)"),
    QuerySpec("stratified_sample", q_stratified_sample, SQL_STRATIFIED_SAMPLE, "sampling (per-group cap)"),
    QuerySpec("passage_dedup", q_passage_dedup, SQL_PASSAGE_DEDUP, "dedup (C4 passage removal)"),
    QuerySpec("exact_substring_dedup", q_exact_substring_dedup, SQL_EXACT_SUBSTRING, "dedup (ExactSubstr sliding spans)"),
    QuerySpec("benchmark_decontam", q_benchmark_decontam, SQL_DECONTAM, "dedup (benchmark decontamination)"),
    QuerySpec("mixture_sample", q_mixture_sample, SQL_MIXTURE, "sampling (mixture weights)"),
    QuerySpec("group_percentiles", q_group_percentiles, SQL_GROUP_PERCENTILES, "sketch (exact quantiles)"),
    QuerySpec("lang_id_hist", q_lang_id_hist, SQL_LANG_ID, "text ops (lang-ID)"),
    QuerySpec("embedding_neardup_exact", q_embedding_neardup_exact, SQL_EMB_NEARDUP, "dedup (embedding)"),
    QuerySpec("semdedup", q_semdedup, SQL_SEMDEDUP, "dedup (SemDeDup semantic)"),
    QuerySpec("containment_search", q_containment_search, SQL_CONTAINMENT, "join (set containment / boolean search)"),
    QuerySpec("compression_quality", q_compression_quality, SQL_COMPRESSION_QUALITY, "text ops (zlib quality signal)"),
    QuerySpec("bpe_subword_tokenize", q_bpe_tokenize, SQL_BPE_TOKENIZE, "tokenizer (trainable BPE, Sennrich 2016)"),
    QuerySpec("hash_embed_topk", q_hash_embed_topk, SQL_HASH_EMBED, "embedding (feature hashing → cosine top-k)"),
    QuerySpec("corpus_shuffle", q_corpus_shuffle, SQL_CORPUS_SHUFFLE, "curation (deterministic global shuffle + shards)"),
    QuerySpec("minhash_lsh_neardup", q_minhash_neardup, SQL_MINHASH, "dedup (LSH)"),
    QuerySpec("incremental_neardup", q_incremental_neardup, SQL_INCR_NEARDUP, "dedup (incremental index probe)"),
    QuerySpec("simhash_neardup", q_simhash_neardup, SQL_SIMHASH, "dedup (SimHash)"),
    QuerySpec("doc_fingerprints", q_doc_fingerprints, SQL_DOC_FINGERPRINTS, "text ops (fingerprint)"),
    QuerySpec("lsh_ann_topk", q_lsh_ann, SQL_LSH_ANN, "similarity (ANN)"),
    QuerySpec("ivf_ann_topk", q_ivf_ann, SQL_IVF_ANN, "similarity (IVF ANN)"),
    QuerySpec("embedding_neardup_lsh", q_embedding_neardup_lsh, SQL_EMB_NEARDUP_LSH, "dedup (embedding LSH)"),
    QuerySpec("multimodal_decode", q_multimodal_metadata, SQL_MULTIMODAL, "multimodal (header round-trip)"),
    QuerySpec(
        "label_drift",
        q_label_drift,
        SQL_LABEL_DRIFT,
        "ml_results parity (per-model-version drift audit)",
    ),
    QuerySpec("crawl_wave_demo", q_crawl_wave, None, "crawl engine"),
    QuerySpec("never_attempted_first", q_never_attempted_first, SQL_NEVER_ATTEMPTED, "O2/S1"),
    QuerySpec("extractor_method_stats", q_extractor_method_stats, SQL_METHOD_STATS, "A8"),
    QuerySpec("articles_per_source", q_articles_per_source, SQL_ARTICLES_PER_SOURCE, "A10"),
]

# U7 geo entries live in plans/geo_catalog.py (fixture-backed, like the
# MinHash/IVF entries); imported here so the driver contract sees them
from mizzounewscrawler_spark.plans import geo_catalog as _geo  # noqa: E402

CATALOG += [
    QuerySpec(
        "publisher_gazetteer",
        _geo.q_publisher_gazetteer,
        _geo._sql_publisher_gazetteer(_FIX_DIR),
        "U7 (gazetteer build)",
    ),
    QuerySpec(
        "geo_local_wire",
        _geo.q_geo_local_wire,
        _geo._sql_geo_local_wire(_FIX_DIR),
        "U7 (geo signals + local/wire classification)",
    ),
]
