"""Driver-facing query catalog: paired (PySpark, ANSI-SQL-oracle) impls.

Each entry implements one operator family from SURVEY.md §2 (or a
training-data-pipeline operator the 100 TB corpus needs) over the
driver's synthetic tables. The SQL strings run under DuckDB on identical
parquet — so every expression here sticks to engine-independent
arithmetic (no engine hash functions; doubles rounded at the boundary;
timestamps stringified; deterministic tie-breaks everywhere).

Column names are aliased identically on both sides — the driver's
compare hashes values under sorted column names.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .functions import hash_kernels as HK
from .functions import textstats as TS
from .functions import vectors as V

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _t but re-spread across the cluster: the sandbox tables are a
    single parquet row group, so compute-heavy per-row expressions would
    otherwise run on one core. Gated on the actual scan partition count —
    a production multi-row-group table already splits and gets NO
    shuffle; only a scan narrower than half the cluster pays the tiny
    re-spread that stands in for scan parallelism here."""
    from urllib.parse import unquote

    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    try:
        # inputFiles() returns file: URIs with percent-encoding — unquote
        # before statting or a path with %20 raises and falls into the
        # assume-big branch
        total = sum(
            os.path.getsize(unquote(f.removeprefix("file:"))) for f in files
        )
    except OSError:
        # non-local URIs (hdfs://, s3://) aren't os.path-statable: assume
        # BIG — a large object-store file splits into many scan tasks by
        # itself, and mis-assuming small would re-shuffle the whole table
        # (the exact pure-cost case this gate exists to avoid)
        return df
    # a scan splits into ~one task per maxPartitionBytes per file; gate
    # on the session's ACTUAL split size (a hardcoded threshold below it
    # would assume parallelism a 64-127 MiB single file doesn't have)
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    m = re.fullmatch(r"(\d+)\s*([kmg]?)b?", raw)
    max_split = int(m.group(1)) * units.get(m.group(2), 1) if m else 128 * 1024 * 1024
    if len(files) >= max(par // 2, 2) or total >= max_split:
        return df
    return df.repartition(par)


MOD = TS.MOD
MINHASH_PRIME = TS.MINHASH_PRIME
N_MINHASH = 16
BAND_SIZE = 4  # 4 bands of 4
# Band-sig combine multiplier (poly fold of a band's minhashes mod MOD).
# Bands of 2 with an exact pair-encoding were measured at sf0.1 to emit
# 287k candidate pairs for only 246 true near-dups (precision 0.09% —
# at 10^12 docs that candidate set is the job's death); bands of 4 keep
# recall ~0.9999 at the observed J>=0.97 dup similarity while cutting
# false candidates ~150x. A rare fold collision only ever ADDs a
# candidate, which verification then filters.
BAND_MULT = 1_000_003

# DuckDB fragment: polynomial codepoint hash of string expr {s}
# (engine-independent twin of textstats.char_poly_hash).
def _duck_poly(s: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {MOD})"
    )


# ===========================================================================
# Relational core (TPC-H-style; SURVEY.md §2.3/§2.4/§2.5 operator families)
# ===========================================================================

def _disc_revenue_cents(factor=lambda disc: 1 - disc):
    """round(sum(l_extendedprice * factor(l_discount)), 2) summed exactly
    over DECIMAL(18,2) inputs, then cast back to DOUBLE. The factor is
    1 - l_discount (q1/q3/q5) or l_discount itself (q6). A DOUBLE sum
    leaves a half-cent total to float error (2.01 * (1 - 0.50) is
    1.00499... as a double), so Spark and the DuckDB oracle could round
    it apart by 0.01. The *_SQL oracles use the same decimal form."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return F.round(F.sum(price * factor(disc)), 2).cast("double")


def q1_pricing_summary(spark, sf_dir):
    """A1/A2-family partial+final hash agg (reference analog: averager,
    utils.py:104-129; Counter, readData.py:30-33)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _disc_revenue_cents().alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                      * (1 - CAST(l_discount AS DECIMAL(18, 2)))), 2) AS DOUBLE)
                                                                AS sum_disc_price,
       round(avg(l_quantity), 4)                                AS avg_qty,
       round(avg(l_discount), 6)                                AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q6_revenue_band(spark, sf_dir):
    """P-family predicate pushdown + single agg (TPC-H Q6 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        _disc_revenue_cents(lambda disc: disc).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q6_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                      * CAST(l_discount AS DECIMAL(18, 2))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


def q3_top_orders(spark, sf_dir):
    """J3-family equi-join chain + agg + deterministic top-10.
    The ranking is orderBy().limit(10) — Catalyst compiles that to
    TakeOrderedAndProject (per-partition JVM top-10 merged at the
    driver), so no single reducer ever sees the full post-agg order
    table (a bare row_number() OVER (ORDER BY ...) window funnels every
    order into ONE window task — the straggler wall at 10^12 rows).
    row_number re-ranks only the <=10 survivors."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_disc_revenue_cents().alias("revenue"))
    )
    top = rev.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc()).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
            F.col("rn").cast("long").alias("rn"),
        )
    )


Q3_SQL = """
WITH rev AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                        * (1 - CAST(l_discount AS DECIMAL(18, 2)))), 2) AS DOUBLE) AS revenue
  FROM customer
  JOIN orders   ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey, o_orderdate, o_orderpriority
), ranked AS (
  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         o_orderpriority, revenue,
         row_number() OVER (ORDER BY revenue DESC, o_orderkey ASC) AS rn
  FROM rev
)
SELECT * FROM ranked WHERE rn <= 10
"""


def q5_region_revenue(spark, sf_dir):
    """Multi-way broadcast-dim equi-join (J1/J3 family at star scale):
    small dims (region/nation/supplier/customer) broadcast; only the
    orders⋈lineitem edge shuffles."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _disc_revenue_cents().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q5_SQL = """
SELECT r_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                      * (1 - CAST(l_discount AS DECIMAL(18, 2)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY r_name, n_name
"""


def order_priority_counts(spark, sf_dir):
    """A2-family grouped count over a date-band filter (TPC-H Q4 shape): order priorities by count, deterministic ordering."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY o_orderpriority
"""


def top3_customers_per_nation(spark, sf_dir):
    """W6-family top-k per group: row_number window, deterministic ties."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), F.col("rk").cast("long").alias("rk"))
    )


TOP3_CUST_SQL = """
SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal, rk FROM (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) WHERE rk <= 3
"""


def part_type_share(spark, sf_dir):
    """A-family ratio agg: per-type share of total retail price."""
    part = _t(spark, sf_dir, "part")
    tot = part.agg(F.sum("p_retailprice").alias("t")).select("t")
    return (
        part.groupBy("p_type")
        .agg(F.round(F.sum("p_retailprice"), 2).alias("type_price"), F.count(F.lit(1)).alias("n_parts"))
        .crossJoin(F.broadcast(tot))
        .select(
            "p_type",
            "type_price",
            "n_parts",
            F.round(F.col("type_price") / F.col("t"), 6).alias("share"),
        )
    )


PART_SHARE_SQL = """
WITH tot AS (SELECT sum(p_retailprice) AS t FROM part)
SELECT p_type,
       round(sum(p_retailprice), 2) AS type_price,
       count(*) AS n_parts,
       round(round(sum(p_retailprice), 2) / (SELECT t FROM tot), 6) AS share
FROM part GROUP BY p_type
"""


def lineitem_rollup(spark, sf_dir):
    """SO/A-family rollup (subtotals + grand total), null labels pinned."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "qty",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ===========================================================================
# Events (ordered/window operators; SURVEY.md §2.5)
# ===========================================================================

def events_hourly(spark, sf_dir):
    """Tumbling-hour rollup per event type (date_trunc groupBy): count + rounded value total — the canonical time-bucketed aggregate."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def events_sliding_counts(spark, sf_dir):
    """Sliding-window aggregate (1 h window, 30 min slide) as a batch
    query — each event lands in exactly two windows via F.window. The
    oracle derives the non-empty window starts from 30-minute tumbling
    buckets, then aggregates RAW events per window (summing bucket
    subtotals would change float association vs Spark's direct partial
    agg — fragile at round() boundaries), pinning the sliding semantics
    cross-engine; the streaming twin is
    streaming.windowed_event_counts(slide=...)."""
    ev = _t(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


EVENTS_SLIDING_SQL = """
WITH b AS (
  SELECT DISTINCT time_bucket(INTERVAL '30 minutes', ts) AS b0, event_type
  FROM events
), starts AS (
  SELECT b0 AS ws, event_type FROM b
  UNION
  SELECT b0 - INTERVAL '30 minutes' AS ws, event_type FROM b
)
SELECT strftime(s.ws, '%Y-%m-%d %H:%M:%S') AS window_start, s.event_type,
       count(*) AS n, round(sum(e.value), 2) AS total_value
FROM starts s
JOIN events e ON e.event_type = s.event_type
             AND e.ts >= s.ws AND e.ts < s.ws + INTERVAL '60 minutes'
GROUP BY 1, 2
"""


def events_sessionization(spark, sf_dir):
    """W2-family lag window: session = gap > 1800s; sessions per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap arithmetic (cross-engine: no fractional-second
    # truncation ambiguity at the 1800s boundary)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    starts = ev.withColumn(
        "is_start", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    return starts.groupBy("user_id").agg(
        F.sum("is_start").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


EVENTS_SESSION_SQL = """
WITH g AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
)
SELECT user_id, CAST(sum(is_start) AS BIGINT) AS n_sessions, count(*) AS n_events FROM g GROUP BY user_id
"""


def events_running_sum(spark, sf_dir):
    """W4-family ordered running aggregate, per-user by (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


EVENTS_RUNNING_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
       AS running_value
FROM events
"""


def events_top_users_per_type(spark, sf_dir):
    """W6-family top-k per group over two agg levels: top-5 users by event count within each event type, deterministic ties."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type", "user_id").agg(F.round(F.sum("value"), 2).alias("v"))
    w = Window.partitionBy("event_type").orderBy(F.col("v").desc(), F.col("user_id").asc())
    return (
        per.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("event_type", "user_id", "v", F.col("rk").cast("long").alias("rk"))
    )


EVENTS_TOP_USERS_SQL = """
SELECT event_type, user_id, v, rk FROM (
  SELECT event_type, user_id, round(sum(value), 2) AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY round(sum(value), 2) DESC, user_id ASC) AS rk
  FROM events GROUP BY event_type, user_id
) WHERE rk <= 5
"""


# ===========================================================================
# Documents: corpus/training-data operators (dedup, stats, fingerprints)
# ===========================================================================

def docs_dedup_exact(spark, sf_dir):
    """Exact dedup by content: canonical doc per text + dup count
    (SO1-family distinct; at scale: hash-groupBy with map-side combine)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("canonical_doc_id", "n_copies")


DOCS_DEDUP_SQL = """
SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


# BPE-ish pre-tokenizer (GPT-2-style, minus the lookahead RE2 lacks):
# contraction suffixes, space-prefixed letter runs, digit runs, punct
# runs. \p{L}/\p{N} parse identically in Java regex (Spark) and RE2
# (DuckDB), so the count is engine-independent.
BPE_TOKEN_PATTERN = r"'\p{L}+| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def docs_token_stats(spark, sf_dir):
    """Token accounting per doc: whitespace tokens (the word measure),
    distinct whitespace tokens, chars, and a BPE-ish subword count (the
    budget measure an LLM-training pipeline actually bills by)."""
    d = _t(spark, sf_dir, "documents")
    toks = TS.tokens(F.col("text"))
    return d.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_TOKEN_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


DOCS_TOKEN_SQL = rf"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
       CASE WHEN trim(text) = '' THEN 0 ELSE len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) END AS n_distinct_tokens,
       length(text) AS n_chars_actual,
       len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN.replace("'", "''")}')) AS n_bpe_tokens
FROM documents
"""


def docs_lang_id_counts(spark, sf_dir):
    """Language-ID heuristic vs the labeled lang column: confusion counts."""
    d = _t(spark, sf_dir, "documents")
    return d.select("lang", TS.lang_id(F.col("text")).alias("pred")).groupBy(
        "lang", "pred"
    ).agg(F.count(F.lit(1)).alias("n"))


def _lang_case_sql() -> str:
    whens = []
    for code, pat in [
        ("zh", "[一-龥]"),
        ("ru", "[Ѐ-ӿ]"),
        ("de", r"\b(und|der|die|das|nicht|ist)\b"),
        ("fr", r"\b(les|des|est|une|dans|pour)\b"),
        ("es", r"\b(los|las|una|para|por|con)\b"),
        ("en", r"\b(the|and|of|to|is|that)\b"),
    ]:
        whens.append(f"WHEN regexp_matches(lower(text), '{pat}') THEN '{code}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


DOCS_LANG_SQL = f"""
SELECT lang, {_lang_case_sql()} AS pred, count(*) AS n
FROM documents GROUP BY 1, 2
"""


def docs_quality_scores(spark, sf_dir):
    """Per-doc quality signals (Gopher/C4-style): token count, punctuation ratio, composite [0,1] quality score — pure column arithmetic."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TS.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.round(TS.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        TS.quality_score(F.col("text")).alias("quality"),
    )


DOCS_QUALITY_SQL = r"""
WITH b AS (
  SELECT doc_id, text,
         length(text) AS n,
         CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
         length(regexp_replace(text, '[^0-9A-Za-z\s一-龥]', '', 'g')) AS n_keep,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace
  FROM documents
)
SELECT doc_id, nw AS n_tokens,
       round(CASE WHEN n = 0 THEN 0.0 ELSE (n - n_keep) / CAST(n AS DOUBLE) END, 6)
         AS punct_ratio,
       round((
         (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN nw > 0 AND n_nospace / CAST(nw AS DOUBLE) BETWEEN 2.0 AND 12.0
               THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE (n - n_keep) / CAST(n AS DOUBLE) END) <= 0.2
               THEN 1.0 ELSE 0.0 END) +
         (CASE WHEN nw >= 5 THEN 1.0 ELSE 0.0 END)
       ) / 4.0, 4) AS quality
FROM b
"""


def docs_fingerprint(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint (engine-independent
    arithmetic; computed by the Arrow numpy kernel — the Catalyst
    per-char fold form stays the oracle, pinned bit-identical in
    tests/test_hash_kernels.py, but evaluates interpreted and is ~100x
    slower on a full corpus scan)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", HK.poly_hash_kernel(F.col("text")).alias("fingerprint"))


DOCS_FINGERPRINT_SQL = f"""
SELECT doc_id, {_duck_poly("text")} AS fingerprint FROM documents
"""


# k=16 keeps the ESTIMATOR branch (n >= k) exercised on the driver's
# small-vocab synthetic corpora (~33 distinct tokens at sf0.01) — at
# production scale you'd run k=1024+ for ~3% error; the formula and the
# merge shape are k-independent.
KMV_K = 16
KMV_MULT = 2_654_435_761  # Knuth multiplicative constant
KMV_ADD = 104_729


def docs_token_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-token sketch — a DETERMINISTIC
    cardinality estimator, unlike approx_count_distinct's HLL whose
    sketch is engine-private: the k smallest distinct poly-hash values
    give est = (k-1) * M / h_k. Exactly reproducible in ANSI SQL, so the
    oracle pins the sketch itself, not just a tolerance. The scale
    shape: hash + distinct is map-side combinable, and the global
    k-smallest runs as per-partition top-k merged on the driver
    (TakeOrderedAndProject) — the KMV merge IS a top-k merge, which is
    why the sketch unions across partitions/datasets for free. Emits
    the estimate next to the exact distinct count so the row
    self-reports sketch error (~1/sqrt(k) ~ 12% at k=64)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TS.tokens(F.col("text"))).alias("word")).distinct()
    # KMV needs hashes ~uniform on [0, P): the raw poly hash of SHORT
    # tokens is range-biased low (a 5-char word sums to < ~31^4 * 122,
    # an order of magnitude under MOD), which inflates the estimate
    # ~100x — the affine spread by a large odd multiplier mod the
    # Mersenne prime wraps many times and equidistributes (same family
    # as the minhash permutations; still exact integer arithmetic in
    # both engines)
    spread = (
        F.lit(KMV_MULT) * TS.char_poly_hash(F.col("word")) + F.lit(KMV_ADD)
    ) % F.lit(MINHASH_PRIME)
    hs = toks.select(spread.alias("h")).distinct()
    kmin = hs.orderBy(F.col("h").asc()).limit(KMV_K)
    sketch = kmin.agg(
        F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("hk")
    )
    exact = hs.agg(F.count(F.lit(1)).alias("exact_distinct_hashes"))
    return sketch.crossJoin(exact).select(
        F.lit(KMV_K).cast("long").alias("k"),
        F.col("n_sketch").cast("long").alias("n_sketch"),
        F.when(F.col("n_sketch") < KMV_K, F.col("n_sketch").cast("double"))
        .otherwise(
            F.round((F.lit(KMV_K - 1) * F.lit(float(MINHASH_PRIME))) / F.col("hk"), 2)
        )
        .alias("est_distinct"),
        F.col("exact_distinct_hashes").cast("long").alias("exact_distinct_hashes"),
    )


def _duck_kmv_sql() -> str:
    return rf"""
WITH toks AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents WHERE trim(text) <> ''
), hs AS (
  SELECT DISTINCT ({KMV_MULT} * ({_duck_poly("word")}) + {KMV_ADD}) % {MINHASH_PRIME} AS h
  FROM toks
), kmin AS (
  SELECT h FROM hs ORDER BY h ASC LIMIT {KMV_K}
), sketch AS (
  SELECT count(*) AS n_sketch, max(h) AS hk FROM kmin
), exact AS (
  SELECT count(*) AS exact_distinct_hashes FROM hs
)
SELECT {KMV_K} AS k, n_sketch,
       CASE WHEN n_sketch < {KMV_K} THEN CAST(n_sketch AS DOUBLE)
            ELSE round(({KMV_K - 1} * CAST({MINHASH_PRIME} AS DOUBLE)) / hk, 2) END AS est_distinct,
       exact_distinct_hashes
FROM sketch CROSS JOIN exact
"""


def docs_word_freq(spark, sf_dir):
    """A2 word-frequency pipeline with J7 stop-word anti-join
    (reference: readData.py:23-33): tokenize, drop stop words, count,
    deterministic top-50."""
    d = _t(spark, sf_dir, "documents")
    stop = ["the", "a", "of", "and"]
    toks = d.select(F.explode(TS.tokens(F.col("text"))).alias("word"))
    counts = (
        toks.filter(~F.col("word").isin(stop))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # pre-reduce each partition of the counts table to its local top-50
    # before the single-reducer global ranking window (vocab tables are
    # millions of rows at web scale)
    reduced = _local_topk(counts, 50, [], ["freq", "word"], [False, True])
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 50)
        .select("word", "freq", F.col("rk").cast("long").alias("rk"))
    )


DOCS_WORD_FREQ_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents WHERE trim(text) <> ''
), counts AS (
  SELECT word, count(*) AS freq FROM toks
  WHERE word NOT IN ('the', 'a', 'of', 'and')
  GROUP BY word
)
SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS rk
FROM counts QUALIFY rk <= 50
"""


# ---------------------------------------------------------------------------
# CJK-aware corpus operators (P10; reference: HanLP segmentation in
# contrib/acautomata Test.java:28-37, jieba in contrib/trietree/
# wordFrequency/readData.py:6,23-28)
# ---------------------------------------------------------------------------

# Deterministic phrase->hanzi lifting of the synthetic corpus into mixed
# CJK/latin text (the driver tables carry no Chinese; external data is
# off-limits). Literal left-to-right global replace has identical
# semantics in Spark, DuckDB, and Python, so both engines derive the
# exact same corpus. Replacements produce multi-char CJK runs so the
# bigram segmenter has real work.
CJK_REPLACEMENTS = [
    ("big table", "大数据表"),
    ("fast row", "快速行"),
    ("slow query", "慢查询"),
    ("hash join", "哈希连接"),
    ("data stream", "数据流水"),
    ("sort merge", "排序归并"),
]


def _replace_chain_col(col, reps):
    """Chained literal replace over a column — ONE implementation for
    every derived-fixture corpus (CJK, PII). Mirrored by
    _duck_replace_chain; keep the two in lockstep."""
    for pat, rep in reps:
        col = F.replace(col, F.lit(pat), F.lit(rep))
    return col


def _duck_replace_chain(expr: str, reps) -> str:
    """DuckDB twin of _replace_chain_col. Patterns/replacements must not
    contain single quotes (asserted — a quote would silently break the
    hand-built SQL chain but not the Spark one)."""
    for pat, rep in reps:
        assert "'" not in pat and "'" not in rep, (pat, rep)
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


def _cjk_text_col():
    return _replace_chain_col(F.col("text"), CJK_REPLACEMENTS)


def _duck_cjk_text_expr() -> str:
    return _duck_replace_chain("text", CJK_REPLACEMENTS)


def _duck_cjk_tokens_expr(text_expr: str = "text") -> str:
    """DuckDB twin of textstats.cjk_tokens over {text_expr}: space out
    maximal CJK runs, whitespace-split (trim+empty guard mirrors
    textstats.tokens), then expand multi-char CJK tokens into
    overlapping character bigrams."""
    spaced = f"regexp_replace({text_expr}, '([一-龥]+)', ' \\1 ', 'g')"
    base = (
        f"CASE WHEN trim({spaced}) = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array(trim({spaced}), '\\s+') END"
    )
    return (
        f"flatten(list_transform({base}, tok -> "
        f"CASE WHEN regexp_matches(tok, '^[一-龥]{{2,}}$') "
        f"THEN list_transform(generate_series(1, length(tok) - 1), i -> substr(tok, i, 2)) "
        f"ELSE [tok] END))"
    )


def docs_word_freq_cjk(spark, sf_dir):
    """P10 CJK-aware word frequency: derive the mixed CJK/latin corpus,
    segment with cjk_tokens (whitespace tokens + CJK character bigrams —
    the deterministic, dictionary-free stand-in for the reference's
    jieba/HanLP segmentation), count, deterministic top-80. Without CJK
    awareness a Chinese document is one giant whitespace token and
    word-frequency quality collapses on the reference's own domain."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TS.cjk_tokens(_cjk_text_col())).alias("word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    reduced = _local_topk(counts, 80, [], ["freq", "word"], [False, True])
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 80)
        .select("word", "freq", F.col("rk").cast("long").alias("rk"))
    )


def _duck_word_freq_cjk_sql() -> str:
    arr = _duck_cjk_tokens_expr(f"({_duck_cjk_text_expr()})")
    return f"""
WITH toks AS (
  SELECT unnest({arr}) AS word FROM documents
), counts AS (
  SELECT word, count(*) AS freq FROM toks GROUP BY word
)
SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS rk
FROM counts QUALIFY rk <= 80
"""


def _duck_cjk_dict_tokens_expr(text_expr: str) -> str:
    """DuckDB twin of textstats.cjk_dict_tokens over {text_expr}:
    priority maximum matching via sentinel-protected literal replaces,
    single-char spacing for OOV hanzi, whitespace split."""
    e = _duck_replace_chain(
        text_expr, [(w, f" ⟦{i}⟧ ") for i, w in enumerate(TS.CJK_LEXICON)]
    )
    e = f"regexp_replace({e}, '([一-龥])', ' \\1 ', 'g')"
    e = _duck_replace_chain(e, [(f"⟦{i}⟧", w) for i, w in enumerate(TS.CJK_LEXICON)])
    return (
        f"CASE WHEN trim({e}) = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array(trim({e}), '\\s+') END"
    )


def docs_word_freq_cjk_dict(spark, sf_dir):
    """P10 word-level CJK frequency via the DICTIONARY segmenter
    (priority maximum matching over the inline lexicon,
    textstats.cjk_dict_tokens) — the jieba/HanLP-analog word-frequency
    sink (S9) the bigram segmenter only approximates: a user reading
    this table gets lexicon WORDS (大数据表), with single-char fallback
    for OOV hanzi, not character bigrams. Same count + deterministic
    top-80 shape as docs_word_freq_cjk."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TS.cjk_dict_tokens(_cjk_text_col())).alias("word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    reduced = _local_topk(counts, 80, [], ["freq", "word"], [False, True])
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 80)
        .select("word", "freq", F.col("rk").cast("long").alias("rk"))
    )


def _duck_word_freq_cjk_dict_sql() -> str:
    arr = _duck_cjk_dict_tokens_expr(f"({_duck_cjk_text_expr()})")
    return f"""
WITH toks AS (
  SELECT unnest({arr}) AS word FROM documents
), counts AS (
  SELECT word, count(*) AS freq FROM toks GROUP BY word
)
SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word ASC) AS rk
FROM counts QUALIFY rk <= 80
"""


def docs_minhash_lsh_pairs_cjk(spark, sf_dir):
    """docs_minhash_lsh_pairs with CJK-aware shingling over the derived
    mixed CJK/latin corpus: bigram-segmented tokens feed the k=3 shingle
    minhash, so Chinese near-duplicates are visible to LSH instead of
    whole sentences collapsing into single whitespace tokens. Same band
    scheme, same single band-bucket shuffle."""
    d = _t_wide(spark, sf_dir, "documents").select("doc_id", _cjk_text_col().alias("text"))
    sigs = HK.minhash_signatures_df(
        d, num_hashes=N_MINHASH, k=3, tokenizer="cjk"
    ).localCheckpoint()
    return _band_candidates(sigs, "doc_id", "doc_a", "doc_b")


def docs_minhash_lsh_pairs_cjk_dict(spark, sf_dir):
    """docs_minhash_lsh_pairs under the DICTIONARY CJK segmenter
    (cjk_dict): lexicon words + single-char OOV fallback feed the k=3
    shingle minhash, completing the word-level segmentation story for
    dedup (the bigram variant remains for dictionary-free recall). Same
    band scheme, same single band-bucket shuffle."""
    d = _t_wide(spark, sf_dir, "documents").select("doc_id", _cjk_text_col().alias("text"))
    sigs = HK.minhash_signatures_df(
        d, num_hashes=N_MINHASH, k=3, tokenizer="cjk_dict"
    ).localCheckpoint()
    return _band_candidates(sigs, "doc_id", "doc_a", "doc_b")


def _duck_minhash_cjk_dict_sql() -> str:
    """Dictionary-segmented twin of _duck_minhash_sql over the derived
    mixed CJK/latin corpus."""
    return _duck_minhash_sql(
        arr=_duck_cjk_dict_tokens_expr("text"),
        source=f"(SELECT doc_id, {_duck_cjk_text_expr()} AS text FROM documents)",
    )


def docs_ngram_counts(spark, sf_dir):
    """A9 word n-gram counting (reference: docs/yangzhanku/n-gram/
    language-model.md:166-193 make-batch-counts -> merge-batch-counts):
    per-doc n-gram emission is the map batch, groupBy+count the merge —
    Spark's partial (map-side combine) + final hash aggregate is exactly
    the batch/merge split the reference describes. 2-grams and 3-grams
    in one pass; docs shorter than n tokens contribute nothing at that
    n; deterministic top-40 per n. _t_wide: the gram expressions are
    compute-heavy per row and the sandbox table is one row group — at
    production scale the scan splits by itself and the repartition
    disappears (measured 4x at sf0.1: the single-partition scan
    serialized the whole explode onto one core)."""
    d = _t_wide(spark, sf_dir, "documents")
    # tokenization factored into its own projection: inlining
    # TS.tokens(text) into every gram lambda replicates the split
    # expression ~6x through the nested higher-order functions and the
    # generated code balloons (measured ~5s extra one-time codegen on
    # this plan alone)
    toks_df = d.select(TS.tokens(F.col("text")).alias("toks"))

    def _grams(n: int):
        toks = F.col("toks")
        arr = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            arr, lambda g: F.struct(F.lit(n).alias("n"), g.alias("ngram"))
        )

    # both gram sizes from ONE corpus scan: concat the per-n struct
    # arrays before the single explode (a union of two selects scans
    # the documents table twice)
    counts = (
        toks_df.select(F.explode(F.concat(_grams(2), _grams(3))).alias("g"))
        .select(F.col("g.n").alias("n"), F.col("g.ngram").alias("ngram"))
        .groupBy("n", "ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # n-gram count tables are billions of rows at web scale: local top-40
    # per n per partition before the 2-reducer ranking window
    reduced = _local_topk(counts, 40, ["n"], ["n", "freq", "ngram"], [True, False, True])
    w = Window.partitionBy("n").orderBy(F.col("freq").desc(), F.col("ngram").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("n", "ngram", "freq", F.col("rk").cast("long").alias("rk"))
    )


def _duck_ngram_counts_sql() -> str:
    legs = []
    for n in (2, 3):
        legs.append(
            f"SELECT {n} AS n, unnest(CASE WHEN len(arr) >= {n} "
            f"THEN list_transform(generate_series(1, len(arr) - {n - 1}), "
            f"i -> array_to_string(arr[i:i+{n - 1}], ' ')) "
            f"ELSE CAST([] AS VARCHAR[]) END) AS ngram FROM toks"
        )
    return rf"""
WITH toks AS (
  SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), grams AS (
  {" UNION ALL ".join(legs)}
), counts AS (
  SELECT n, ngram, count(*) AS freq FROM grams GROUP BY n, ngram
)
SELECT n, ngram, freq,
       row_number() OVER (PARTITION BY n ORDER BY freq DESC, ngram ASC) AS rk
FROM counts QUALIFY rk <= 40
"""


def _jaccard_prefix_candidates(toks: DataFrame, t_num: int = 4, t_den: int = 5) -> DataFrame:
    """Positional prefix filtering (the SSJoin/AllPairs principle): for
    J(A,B) >= t, A's and B's prefixes of length |d| - ceil(t*|d|) + 1
    under ONE global token order MUST share a token — so only those
    prefix tokens enter the inverted-index self-join, and the candidate
    set is exactly a superset of the true answer (no recall loss; the
    all-pairs oracle is unchanged). The global order is (document
    frequency asc, token asc): rarest tokens first, so a hot token
    ('the', df ~ corpus size) almost never lands in a prefix and can no
    longer build a df^2 join bucket — the round-1 scale-killer.
    Prefix length uses exact integer arithmetic (ceil(t*sz) as
    (t_num*sz + t_den - 1) div t_den) — float 0.8*sz rounds the wrong
    way for sz divisible by 5.

    toks: (doc_id, word) with per-doc distinct words."""
    df_counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("word").asc())
    pos = (
        toks.join(df_counts, "word")
        .select(
            "doc_id",
            "word",
            F.row_number().over(w_doc).alias("pos"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
        )
    )
    ceil_t_sz = F.floor((F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den))
    prefix = pos.filter(F.col("pos") <= F.col("sz") - ceil_t_sz + 1).select("doc_id", "word")
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "word")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def docs_jaccard_pairs(spark, sf_dir):
    """Exact word-set Jaccard near-dup pairs (J >= 0.8), scale-hardened:
    prefix-filtered candidate generation (_jaccard_prefix_candidates —
    only each doc's rarest few tokens enter the self-join) followed by
    exact verification on full distinct-token sets for candidates only.
    Produces exactly the naive all-pairs answer (the DuckDB oracle IS
    the naive all-pairs SQL, unchanged from round 1) without the
    hot-token quadratic join bucket."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(TS.tokens(F.col("text")))).alias("word")
    )
    cands = _jaccard_prefix_candidates(toks)
    sets = toks.groupBy("doc_id").agg(F.collect_set("word").alias("ws"))
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    union = F.size(F.col("wa")) + F.size(F.col("wb")) - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
        # exact integer threshold (5*inter >= 4*union), matching the
        # prefix filter's exact-J guarantee — a round()-based filter
        # would admit J in [0.7999995, 0.8) pairs the candidate
        # generator correctly prunes
        .filter(inter * 5 >= union * 4)
        .select("doc_a", "doc_b", "jaccard")
    )


DOCS_JACCARD_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS word
  FROM documents WHERE trim(text) <> ''
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM toks a JOIN toks b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE common * 5 >= (sa.sz + sb.sz - common) * 4
"""


def _minhash_sigs(d):
    """(doc_id, mh0..mh15) via the Arrow numpy kernel (one mapInPandas
    projection, no shuffle). The pure-Catalyst single-fold expression
    form lives in tests/test_hash_kernels.py, which pins the kernel to
    it bit for bit; the kernel exists because the per-char aggregate
    lambda evaluates interpreted (~100 ms core-time per 300-char doc at
    sf0.1) — ~100x slower than the identical math as flat numpy segment
    reductions.

    Signature shingles are k=3 (verification stays on the k=2 measure):
    measured at sf0.1, 2-word shingles leave enough cross-doc vocabulary
    overlap that even 4-hash bands emit 204k candidates for 256 true
    pairs; 3-word shingles drop background Jaccard to ~0.001 and the
    same band scheme emits 2,080 candidates with 100% recall of the
    exact-Jaccard>=0.6 truth set (brute-force checked)."""
    return HK.minhash_signatures_df(d, num_hashes=N_MINHASH, k=3)


def _banded_sigs(sigs, id_col: str):
    """(id, mh0..mh{N-1}) -> (id, band, sig) rows. Band sig = poly fold
    of the band's minhashes mod MOD (BAND_MULT multiplier) — a rare
    fold collision only ADDs a candidate, which downstream verification
    filters. Single source of truth for the band scheme; the DuckDB
    oracles mirror it."""
    bands = []
    for bi in range(N_MINHASH // BAND_SIZE):
        lo = bi * BAND_SIZE
        band_sig = F.col(f"mh{lo}")
        for o in range(1, BAND_SIZE):
            band_sig = (band_sig * F.lit(BAND_MULT) + F.col(f"mh{lo + o}")) % F.lit(MOD)
        bands.append(F.struct(F.lit(bi).alias("band"), band_sig.alias("sig")))
    return sigs.select(id_col, F.explode(F.array(*bands)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )


def _band_candidates(sigs, id_col: str, out_a: str, out_b: str, observation=None):
    """(id, mh0..mh{N-1}) -> distinct candidate id pairs (out_a < out_b)
    sharing any band bucket (see _banded_sigs for the band scheme)."""
    banded = _banded_sigs(sigs, id_col)
    return _bucket_pair_join(
        banded, id_col, out_a, out_b, cap=LSH_BUCKET_CAP, observation=observation
    )


# A band bucket with more members than this emits star pairs against its
# min-id representative instead of the full O(n^2) pair expansion. On
# organic corpora bucket sizes are near-dup group sizes (single digits;
# the cap never fires and pair output is bit-identical to the unguarded
# join — the driver corpora stay on this path, so the DuckDB oracles are
# unchanged). The cap exists for the degenerate flood: a crawl with
# millions of byte-identical docs lands the whole clone set in ONE
# bucket, and 10^6 members is 5*10^11 pairs from a single reducer —
# star pairing bounds it to n-1 while preserving connectivity for the
# downstream connected-components clustering (every member still links
# to the representative, so the clone set still collapses to one
# cluster, and exact-dedup catches byte-identical content anyway).
LSH_BUCKET_CAP = 64


def _bucket_pair_join(
    banded, id_col: str, out_a: str, out_b: str, cap: int | None = None,
    observation=None,
):
    """Self-join of a (id, band, sig) table: distinct ordered id pairs
    sharing any band bucket — the one shuffle of every LSH candidate
    generator here (minhash bands and hyperplane bands alike). With a
    `cap`, buckets above it take the star-pairing path (see
    LSH_BUCKET_CAP); the window and the self-join share the (band, sig)
    partitioning so the guard adds no extra shuffle. The cap applies to
    FINE bucket schemes (minhash bands, where a bucket ~ one near-dup
    group); coarse schemes like the 4-bit hyperplane sign buckets of
    emb_near_dup_cosine hold ~n/16 members by design and must pass
    cap=None (star pairing would discard real candidates there).

    Cap firing is NOT silent: pass a `pyspark.sql.Observation` to record
    `rows_in_capped_buckets` / `max_bucket` at action time (zero extra
    passes — the metrics ride the existing window stage), so a run whose
    pair list lost non-star pairs to the cap is observable instead of
    silently diverging from the all-pairs oracle."""
    if cap is None:
        return (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b))
            .distinct()
        )
    w = Window.partitionBy("band", "sig")
    tagged = banded.select(
        id_col,
        "band",
        "sig",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.min(id_col).over(w).alias("_rep"),
    )
    if observation is not None:
        tagged = tagged.observe(
            observation,
            F.sum(F.when(F.col("_n") > cap, 1).otherwise(0)).alias(
                "rows_in_capped_buckets"
            ),
            F.max("_n").alias("max_bucket"),
        )
    small = tagged.filter(F.col("_n") <= cap)
    pairs_small = (
        small.alias("a")
        .join(
            small.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b))
    )
    pairs_big = tagged.filter(
        (F.col("_n") > cap) & (F.col(id_col) != F.col("_rep"))
    ).select(F.col("_rep").alias(out_a), F.col(id_col).alias(out_b))
    return pairs_small.unionByName(pairs_big).distinct()


def docs_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs: 3-word shingles -> arithmetic poly
    hash -> 16 permutations (Arrow numpy kernel, one mapInPandas
    projection) -> 4 bands of 4 -> band-bucket equi-join. The only
    shuffle is the band-bucket join.

    Recall caveat: any band bucket larger than LSH_BUCKET_CAP (64) —
    byte-identical floods, but also NATURAL near-dup families such as
    templated/boilerplate pages at crawl scale — emits only star pairs
    against its min-id representative, so the PAIR LIST under-reports
    within-family pairs there (connectivity for docs_dup_clusters is
    preserved; consumers needing complete membership of a big family
    should read the cluster table, not this pair list). Cap firings are
    observable via the Observation hook on _bucket_pair_join."""
    d = _t_wide(spark, sf_dir, "documents")
    # materialize once: the band self-join would otherwise execute the
    # signature kernel on BOTH sides (two full corpus scans)
    sigs = _minhash_sigs(d).localCheckpoint()
    return _band_candidates(sigs, "doc_id", "doc_a", "doc_b")


def _duck_shingle_expr(k: int, arr: str | None = None) -> str:
    """DuckDB twin of textstats.word_shingles(text, k) over the token
    array `arr` (default: whitespace tokens; pass _duck_cjk_tokens_expr()
    for the CJK tokenizer). Note: DuckDB list slice [i:j] is inclusive
    of j, so a k-gram at i is [i:i+k-1]."""
    if arr is None:
        arr = r"regexp_split_to_array(trim(text), '\s+')"
    return (
        f"CASE WHEN len({arr}) <= {k} "
        f"THEN [array_to_string({arr}, ' ')] "
        f"ELSE list_transform(generate_series(1, len({arr}) - {k - 1}), "
        f"i -> array_to_string({arr}[i:i+{k - 1}], ' ')) END"
    )


def _duck_banded_cte(arr: str | None = None, source: str = "documents") -> str:
    """The hashes/sigs/banded WITH-clause body shared by every minhash
    oracle — the SQL twin of minhash_signatures_df + _banded_sigs."""
    shingle = _duck_shingle_expr(3, arr)
    ph = (
        f"list_transform({shingle}, s -> "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array(s, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {MOD}))"
    )
    mh = []
    for j in range(N_MINHASH):
        a = 2 * j + 1
        b = 104729 * (j + 1) % MINHASH_PRIME
        mh.append(f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME})) AS mh{j}")
    bands = []
    for bi in range(N_MINHASH // BAND_SIZE):
        lo = bi * BAND_SIZE
        sig = f"mh{lo}"
        for o in range(1, BAND_SIZE):
            sig = f"(({sig}) * {BAND_MULT} + mh{lo + o}) % {MOD}"
        bands.append(f"SELECT doc_id, {bi} AS band, {sig} AS sig FROM sigs")
    return f"""hashes AS (
  SELECT doc_id, {ph} AS hs FROM {source}
), sigs AS (
  SELECT doc_id, {", ".join(mh)} FROM hashes
), banded AS (
  {" UNION ALL ".join(bands)}
)"""


def _duck_minhash_sql(arr: str | None = None, source: str = "documents") -> str:
    return f"""
WITH {_duck_banded_cte(arr, source)}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def _duck_minhash_cjk_sql() -> str:
    """CJK-tokenized twin of _duck_minhash_sql over the derived mixed
    CJK/latin corpus."""
    return _duck_minhash_sql(
        arr=_duck_cjk_tokens_expr("text"),
        source=f"(SELECT doc_id, {_duck_cjk_text_expr()} AS text FROM documents)",
    )


def docs_near_dup_verified(spark, sf_dir):
    """The scale-correct near-dup composition: MinHash+LSH candidate
    generation (cheap, recall-oriented) -> exact 2-gram-shingle Jaccard
    verification on candidates only (precision). Exact pairwise Jaccard
    over all doc pairs is quadratic; this verifies only the ~O(dups)
    candidate set — the shape that survives 10^12 docs.

    Recall caveat: verification sees only generated candidates, so the
    LSH_BUCKET_CAP star-pairing inside candidate generation (see
    docs_minhash_lsh_pairs) bounds this query's recall too — a band
    bucket >64 members (identical-clone flood OR a natural templated
    family) yields star pairs only, and lost pairs cannot be recovered
    here; the cluster table (docs_dup_clusters) is the cap-safe
    consumer."""
    d = _t_wide(spark, sf_dir, "documents")
    # Split pipeline: a signatures-only kernel pass feeds candidate
    # generation; the k=2 verification shingle sets are computed by a
    # SECOND kernel pass over ONLY the docs that appear in a candidate
    # pair (a broadcast semi-join prunes the corpus executor-side before
    # the kernel). Non-candidate docs — the overwhelming majority —
    # never pay shingle-set materialization, and the verify joins
    # shuffle candidate-sized tables instead of every doc's shingle set.
    # (A fused single pass that emits signatures and shingle sets
    # together is a few hundred ms faster on a 5k-doc corpus, where
    # stage-launch overhead dominates, but at real scale it checkpoints
    # and shuffles every doc's shingle set — the candidate-pruned shape
    # here is the one that survives 10^12 docs.) Hashed shingle sets
    # (8-byte longs) also shuffle ~10x lighter than the shingle strings;
    # the oracle computes the identical hash so parity is exact.
    # sigs feeds ONLY the band join, so the corpus-wide signature table
    # is never checkpointed; cands (tiny) is the shared node — two
    # consumers (the id prune and the final verify join) — so it is the
    # one materialized, lazily so the driver doesn't block on an eager
    # job.
    sigs = HK.minhash_signatures_df(d, num_hashes=N_MINHASH, k=3)
    cands = _band_candidates(sigs, "doc_id", "doc_a", "doc_b").localCheckpoint(
        eager=False
    )
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # AQE broadcasts the id set (its size is known exactly from the
    # checkpoint), so the prune is executor-side with no corpus shuffle;
    # if a pathological corpus ever made it big, AQE's fallback is a
    # shuffled semi-join on bare ids — still never a corpus-wide
    # shingle materialization.
    sh = HK.shingle_hash_sets_df(
        d.join(cand_ids, "doc_id", "left_semi"), k=2
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union.cast("double"), 6))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


def _duck_near_dup_sql() -> str:
    shingle = _duck_shingle_expr(2)  # verification stays on the k=2 measure
    return f"""
WITH cands AS ({_duck_minhash_sql()}),
sh AS (SELECT doc_id, list_distinct(list_transform({shingle}, s ->
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(regexp_split_to_array(s, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 1000000007))) AS sh FROM documents),
verified AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(a.sh, b.sh)) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
           AS jaccard
  FROM cands c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.6
"""


def docs_simhash(spark, sf_dir):
    """32-bit SimHash over word hashes: bit_j = sign of Σ_words(±1),
    computed by the Arrow numpy kernel (one mapInPandas projection, no
    shuffle). The pure-Catalyst fold form is pinned bit-identical in
    tests/test_hash_kernels.py; see hash_kernels.py for why the kernel
    wins ~100x on interpreted-aggregate CPU."""
    d = _t_wide(spark, sf_dir, "documents")
    return HK.simhash_df(d)


def _duck_simhash_sql() -> str:
    wh = (
        r"list_transform(regexp_split_to_array(trim(text), '\s+'), w -> "
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array(w, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {MOD}))"
    )
    bits = []
    for j in range(32):
        vote = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(wh, "
            f"h -> CASE WHEN ((h // {2 ** j}) % 2) = 1 THEN 1 ELSE -1 END)), "
            f"(a, b) -> a + b)"
        )
        bits.append(f"(CASE WHEN {vote} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)")
    return f"""
WITH whs AS (SELECT doc_id, {wh} AS wh FROM documents)
SELECT doc_id, {" + ".join(bits)} AS simhash FROM whs
"""


def hamming_ball_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    n_bands: int,
    ham_max: int,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """Banded hamming-ball near-dup pairs over an (id, hash) table —
    shared engine of docs_simhash_near_dup (32-bit text simhash) and
    media_phash_near_dup (64-bit perceptual image dHash). Band the hash
    into n_bands bytes; by pigeonhole any pair within hamming distance
    n_bands - 1 shares at least one intact byte, so the byte-band bucket
    equi-join is an EXACT candidate generator for the <= ham_max ball
    (requires ham_max < n_bands); verify bit_count(xor) on candidates
    only.

    Clone-class collapse: the band self-join runs over DISTINCT hash
    VALUES, so a flood of identical items is one row in the join (the
    unguarded id-level join would put the whole flood in one bucket in
    every band — the O(n^2) single-reducer case LSH_BUCKET_CAP exists
    for, which can't be star-capped here because byte bands hold many
    DIFFERENT hashes whose real <= ham_max pairs a star would drop).
    Member-pair expansion is output-sized — unavoidable for a pair-list
    result; a production flood consumes the cluster table instead. Byte
    bands are coarse 1/256 partitions by design, so like the hyperplane
    buckets they pass cap=None. Caller passes a (local)checkpointed
    `hashes` — it is consumed three times."""
    assert ham_max < n_bands, "pigeonhole guarantee needs ham_max < n_bands"
    classes = hashes.select(hash_col).distinct().localCheckpoint()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(hash_col), 8 * b).bitwiseAND(F.lit(255)).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    banded = classes.select(hash_col, F.explode(bands).alias("bb")).select(
        hash_col, F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig")
    )
    hpairs = _bucket_pair_join(banded, hash_col, "h_a", "h_b").withColumn(
        "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    ).filter(F.col("hamming") <= ham_max)
    a = hashes.select(F.col(hash_col).alias("h_a"), F.col(id_col).alias("ia"))
    b = hashes.select(F.col(hash_col).alias("h_b"), F.col(id_col).alias("ib"))
    inter = (
        hpairs.join(a, "h_a")
        .join(b, "h_b")
        .select(
            F.least("ia", "ib").alias(out_a),
            F.greatest("ia", "ib").alias(out_b),
            "hamming",
        )
    )
    intra = (
        hashes.alias("x")
        .join(
            hashes.alias("y"),
            (F.col(f"x.{hash_col}") == F.col(f"y.{hash_col}"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias(out_a),
            F.col(f"y.{id_col}").alias(out_b),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return inter.unionByName(intra)


def docs_simhash_near_dup(spark, sf_dir):
    """SimHash hamming-ball near-dup pairs — completes the simhash
    story (docs_simhash only computes the hashes): 32-bit simhash into
    4 byte bands, exact for the <=3 ball (see hamming_ball_pairs). Same
    shuffle shape as the minhash LSH (one bucket join)."""
    d = _t_wide(spark, sf_dir, "documents")
    sims = HK.simhash_df(d).localCheckpoint()
    return hamming_ball_pairs(sims, "simhash", "doc_id", 4, 3, "doc_a", "doc_b")


def _duck_simhash_near_dup_sql() -> str:
    inner = _duck_simhash_sql().strip()
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {8 * b}) & 255 AS sig FROM sims"
        for b in range(4)
    )
    return f"""
WITH sims AS ({inner}),
banded AS ({bands}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cands c
JOIN sims sa ON sa.doc_id = c.doc_a
JOIN sims sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""


# ===========================================================================
# Embeddings: similarity search
# ===========================================================================

def emb_norms(spark, sf_dir):
    """Vector hygiene scan: L2 norm + dimensionality per embedding (aggregate fold), the sanity pass before any similarity job."""
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(V.norm(F.col("embedding")), 6).alias("l2_norm"),
        F.size("embedding").cast("long").alias("dim"),
    )


EMB_NORMS_SQL = """
SELECT vec_id,
       round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
             (a, b) -> a + b)), 6) AS l2_norm,
       len(embedding) AS dim
FROM embeddings
"""


def _local_topk(
    df: DataFrame, k: int, by: list[str], order: list[str], ascending: list[bool]
) -> DataFrame:
    """Map-side per-partition top-k pre-reduction: within each input
    partition keep only the k best rows (sorted by `order`/`ascending`)
    per `by` group (empty `by` = one global group), Arrow-batched,
    BEFORE any shuffle. Top-k of a total order is distributive, so the
    downstream global ranking over these survivors is exactly the
    ranking over everything — but it now sees k * n_groups *
    n_partitions rows instead of the full table (a single-stage global
    window shuffles everything into n_groups reducers: a straggler wall
    at 100 TB). Used by the cosine top-k (per probe), word-frequency
    (global vocab), and n-gram (per n) rankings."""
    import pandas as pd

    def gen(batches):
        acc = None
        for pdf in batches:
            both = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            both = both.sort_values(order, ascending=ascending)
            # dropna=False: pandas groupby silently discards null-keyed
            # rows by default, which would drop them before the global
            # ranking (all current call sites have non-null keys, but
            # this helper must stay safe for arbitrary group columns)
            acc = both.groupby(by, sort=False, dropna=False).head(k) if by else both.head(k)
        if acc is not None and len(acc):
            yield acc

    return df.mapInPandas(gen, schema=df.schema)


def emb_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for probe vectors (vec_id < 20):
    broadcast the probes, stream the corpus, pre-reduce each scan
    partition to its local top-3 per probe (map-side, zero shuffle),
    then a final window over the tiny survivor set. Deterministic:
    rounded cosine, id tie-break."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = e.crossJoin(F.broadcast(probes)).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        V.cosine_rounded_fast(F.col("q_emb"), F.col("embedding"), 6).alias("cos"),
    )
    reduced = _local_topk(scored, 3, ["q_id"], ["q_id", "cos", "vec_id"], [True, False, True])
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("q_id", "vec_id", "cos", F.col("rk").cast("long").alias("rk"))
    )


def emb_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbor: 8 fixed pseudo-random
    hyperplanes -> sign-bit bucket -> within-bucket exact cosine top-1
    per probe. The scale path vs brute force: candidate set shrinks by
    ~2^8, and the join key is the bucket id (equi-join, AQE-skew-safe)."""
    e = _t(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id", "embedding", V.hyperplane_sign_bucket(F.col("embedding"), 8).alias("bucket")
    )
    probes = bucketed.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = bucketed.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cands.select(
        "q_id",
        "vec_id",
        "bucket",
        V.cosine_rounded_fast(F.col("q_emb"), F.col("embedding"), 6).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("q_id", "vec_id", "bucket", "cos")
    )


def _duck_bucket_expr() -> str:
    """DuckDB twin of vectors.hyperplane_sign_bucket (NOTE: DuckDB lambda
    index is 1-based where Spark's is 0-based — formulas align on the
    1-based dimension index)."""
    terms = []
    for j in range(8):
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            f"((CAST((i * {j + 1} * 2654435761) % 1000 AS DOUBLE)) / 499.5 - 1.0))), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** (7 - j)} ELSE 0 END)")
    return " + ".join(terms)


def _duck_ann_sql() -> str:
    # coalesce: x/0 is NULL in DuckDB but cosine(zero-vector) = 0.0 on
    # the Spark side (vectors.cosine guards the zero norm)
    cos = (
        "coalesce(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(p.q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))), (a, b) -> a + b) "
        "/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(p.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) "
        "* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 6), 0.0)"
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_duck_bucket_expr()} AS bucket FROM embeddings
), probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
  FROM bucketed WHERE vec_id < 50
), scored AS (
  SELECT p.q_id, e.vec_id, e.bucket, {cos} AS cos
  FROM bucketed e JOIN probes p ON e.bucket = p.q_bucket AND e.vec_id != p.q_id
)
SELECT q_id, vec_id, bucket, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk = 1
"""


def emb_near_dup_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — the dedup variant for
    modalities where text shingling is meaningless (images/audio via
    their embeddings). Scale-correct shape: banded sign-LSH candidate
    generation (4 bands x 4 hyperplanes; a pair is a candidate if ANY
    band bucket matches) -> exact cosine verification >= 0.4 on
    candidates only. All-pairs cosine is quadratic in corpus size; the
    band-bucket equi-join keeps the candidate set ~O(near-dups), the
    same recall/precision split as docs_near_dup_verified (MinHash
    analog: reference's dictionary-candidate search,
    trietree_correct.py:153-199, generate-then-verify)."""
    e = _t(spark, sf_dir, "embeddings")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                V.hyperplane_sign_bucket(F.col("embedding"), 4, plane_offset=4 * b).alias("sig"),
            )
            for b in range(4)
        ]
    )
    banded = e.select(
        "vec_id", F.explode(bands).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))
    cands = _bucket_pair_join(banded, "vec_id", "vec_a", "vec_b")
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", V.cosine_rounded_fast(F.col("emb_a"), F.col("emb_b"), 6))
        .filter(F.col("cos") >= 0.4)
        .select("vec_a", "vec_b", "cos")
    )


def _duck_band_bucket_expr(band: int) -> str:
    """DuckDB twin of hyperplane_sign_bucket(4, plane_offset=4*band)."""
    terms = []
    for l in range(4):
        j = 4 * band + l
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * "
            f"((CAST((i * {j + 1} * 2654435761) % 1000 AS DOUBLE)) / 499.5 - 1.0))), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** (3 - l)} ELSE 0 END)")
    return " + ".join(terms)


def _duck_emb_near_dup_sql() -> str:
    banded = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {_duck_band_bucket_expr(b)} AS sig FROM embeddings"
        for b in range(4)
    )
    cos = (
        "coalesce(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(ea.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))), (a, b) -> a + b) "
        "/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) "
        "* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))), 6), 0.0)"
    )
    return f"""
WITH banded AS (
  {banded}
), cands AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
), verified AS (
  SELECT c.vec_a, c.vec_b, {cos} AS cos
  FROM cands c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cos FROM verified WHERE cos >= 0.4
"""


EMB_TOPK_SQL = """
WITH probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20
), scored AS (
  SELECT p.q_id, e.vec_id,
         coalesce(round(
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(p.q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(p.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)))
         , 6), 0.0) AS cos
  FROM embeddings e CROSS JOIN probes p
  WHERE e.vec_id != p.q_id
)
SELECT q_id, vec_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
FROM scored QUALIFY rk <= 3
"""


# ===========================================================================
# Second batch: JSON, pivot, set ops, argmin/argmax, scalar-function F-family
# ===========================================================================

def events_props_parse(spark, sf_dir):
    """S3-analog semi-structured parse: props is a JSON string column;
    extract k, aggregate. Pushdown-friendly: the parse is a projection."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_PROPS_SQL = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def events_type_matrix(spark, sf_dir):
    """Pivot (fixed column set -> portable CASE-sum form both engines
    compile to the same plan shape as .pivot())."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)


EVENTS_MATRIX_SQL = "SELECT user_id, " + ", ".join(
    f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
    for t in EVENT_TYPES
) + " FROM events GROUP BY user_id"


def nation_customer_supplier_overlap(spark, sf_dir):
    """SO-family set ops: nations with customers INTERSECT nations with
    suppliers, plus EXCEPT both ways, labeled and unioned."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    both = cust.intersect(sup).select("nk", F.lit("both").alias("side"))
    conly = cust.exceptAll(sup).select("nk", F.lit("customer_only").alias("side"))
    sonly = sup.exceptAll(cust).select("nk", F.lit("supplier_only").alias("side"))
    return both.unionByName(conly).unionByName(sonly)


NATION_OVERLAP_SQL = """
WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
SELECT nk, 'both' AS side FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
UNION ALL
SELECT nk, 'customer_only' AS side FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
UNION ALL
SELECT nk, 'supplier_only' AS side FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
"""


def nation_extreme_customers(spark, sf_dir):
    """A4-family argmin/argmax (min_by/max_by — the exact Spark shape of
    the reference's freq-tie-break aggregation, SURVEY.md §2.4 A4)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.min_by(F.struct("c_custkey", "c_acctbal"), F.struct("c_acctbal", "c_custkey"))[
                "c_custkey"
            ].alias("poorest_custkey"),
            F.max_by(F.struct("c_custkey", "c_acctbal"), F.struct("c_acctbal", (-F.col("c_custkey")).alias("neg")))[
                "c_custkey"
            ].alias("richest_custkey"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


# DuckDB arg_min/arg_max take scalar keys only, so the oracle pins the
# same composite-key semantics with window row_numbers.
NATION_EXTREME_SQL = """
WITH j AS (
  SELECT n_name, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal ASC,  c_custkey ASC)  AS rmin,
         row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rmax
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       min(CASE WHEN rmin = 1 THEN c_custkey END) AS poorest_custkey,
       min(CASE WHEN rmax = 1 THEN c_custkey END) AS richest_custkey,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM j GROUP BY n_name
"""


def part_string_ops(spark, sf_dir):
    """F-family scalar string functions over part (SURVEY.md §2.7:
    format_string/lpad/translate/split/trim/levenshtein F1-F6)."""
    from .functions.textnorm import Q2B_FROM, Q2B_TO

    part = _t(spark, sf_dir, "part")
    first_word = F.element_at(F.split(F.trim("p_name"), r"\s+"), 1)
    return part.select(
        "p_partkey",
        F.format_string("part-%09d", F.col("p_partkey")).alias("part_key_fmt"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.length(F.translate("p_name", Q2B_FROM, Q2B_TO)).cast("long").alias("q2b_len"),
        first_word.alias("first_word"),
        F.levenshtein(first_word, F.lit("standard")).alias("lev_to_standard"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
    )


PART_STRING_SQL = (
    """
SELECT p_partkey,
       printf('part-%09d', p_partkey) AS part_key_fmt,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       CAST(length(translate(p_name, '"""
    + "　"
    + "".join(chr(c) for c in range(0xFF00, 0xFF5F))
    + """', ' """
    + "".join(chr(c) for c in range(0x20, 0x7F)).replace("'", "''")
    + """')) AS BIGINT) AS q2b_len,
       regexp_split_to_array(trim(p_name), '\\s+')[1] AS first_word,
       levenshtein(regexp_split_to_array(trim(p_name), '\\s+')[1], 'standard') AS lev_to_standard,
       concat_ws('|', p_brand, p_type) AS brand_type
FROM part
"""
)


def docs_strip_stopcontent(spark, sf_dir):
    """J6-analog multi-pattern containment strip over the documents text
    (AC-automaton semantics as longest-first alternation, Test.java:60-81)
    with engine-portable literal patterns."""
    stop_patterns = ["data", "the ", "batch"]
    d = _t(spark, sf_dir, "documents")
    from .operators.boilerplate import stop_content_pattern

    pat = stop_content_pattern(stop_patterns)
    cleaned = F.trim(F.regexp_replace(F.regexp_replace("text", pat, ""), r"\s+", " "))
    return d.select(
        "doc_id",
        F.length(cleaned).cast("long").alias("clean_len"),
        F.length("text").cast("long").alias("orig_len"),
    )


DOCS_STRIP_SQL = r"""
SELECT doc_id,
       CAST(length(trim(regexp_replace(regexp_replace(text, 'batch|data|the ', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS clean_len,
       CAST(length(text) AS BIGINT) AS orig_len
FROM documents
"""


# 10k-term-class stop dictionary derived from the corpus vocabulary
# (phrase cross-product; deterministic, no external data). Big enough
# that strip_stop_content_df routes to the Aho-Corasick automaton.
def _large_stop_dict() -> list[str]:
    words = [
        "table", "row", "query", "join", "stream", "merge", "batch",
        "scan", "sort", "window", "group", "filter", "hash", "key", "value",
    ]
    return [f"{a} {b}" for a in words for b in words]


def docs_strip_large_dict(spark, sf_dir):
    """J6 at dictionary scale (Test.java:64-66 double-array-trie AC): the
    225-phrase dictionary exceeds AC_TERM_THRESHOLD, so the Spark side
    runs the broadcast Aho-Corasick automaton (one O(text) mapInPandas
    scan, cost independent of dictionary size) while the oracle runs the
    equivalent longest-first regexp alternation — a green row proves the
    automaton reproduces alternation semantics cross-engine."""
    from .operators.boilerplate import strip_stop_content_df

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    stripped = strip_stop_content_df(d, _large_stop_dict(), "text", "clean")
    norm = F.trim(F.regexp_replace("clean", r"\s+", " "))
    return stripped.select(
        "doc_id",
        F.length(norm).cast("long").alias("clean_len"),
        F.length("text").cast("long").alias("orig_len"),
    )


def _duck_strip_large_dict_sql() -> str:
    # same longest-first order as reference.stop_term_pattern, unescaped
    # (terms are alnum+space, RE2-safe)
    terms = sorted(_large_stop_dict(), key=lambda t: (-len(t), t))
    pat = "|".join(terms)
    return rf"""
SELECT doc_id,
       CAST(length(trim(regexp_replace(regexp_replace(text, '{pat}', '', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS clean_len,
       CAST(length(text) AS BIGINT) AS orig_len
FROM documents
"""


def events_value_histogram_top1(spark, sf_dir):
    """A7-analog histogram vote: bin (value, hour-of-day), count, emit the
    argmax bin — the (h, θ) text-line vote of FCN_Text as a groupBy+top1."""
    ev = _t(spark, sf_dir, "events")
    binned = ev.select(
        (F.floor(F.col("value") / 50) * 50).cast("long").alias("value_bin"),
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("hour_bin"),
    )
    counts = binned.groupBy("value_bin", "hour_bin").agg(F.count(F.lit(1)).alias("n"))
    # argmax via TakeOrderedAndProject (orderBy+limit), not a global
    # row_number window: the bin table is bounded, but no empty-
    # partition Window node belongs anywhere in the catalog
    return (
        counts.orderBy(F.col("n").desc(), F.col("value_bin").asc(), F.col("hour_bin").asc())
        .limit(1)
        .select("value_bin", "hour_bin", "n")
    )


EVENTS_HIST_SQL = """
WITH b AS (
  SELECT CAST(floor(value / 50) * 50 AS BIGINT) AS value_bin,
         CAST(extract(hour FROM ts) AS BIGINT) AS hour_bin
  FROM events
), c AS (
  SELECT value_bin, hour_bin, count(*) AS n FROM b GROUP BY 1, 2
)
SELECT value_bin, hour_bin, n FROM (
  SELECT *, row_number() OVER (ORDER BY n DESC, value_bin ASC, hour_bin ASC) AS rk FROM c
) WHERE rk = 1
"""


# ===========================================================================
# Third batch: full correction tie-break on driver tables, anti/semi joins,
# percentiles, embedding centroids
# ===========================================================================

# Inline correction dictionary over the documents vocabulary (fixed
# constants — same table on both engines). Near-collisions planted to
# exercise every tie-break branch.
CORRECTION_DICT = [
    # (line_id, word, freq)
    (0, "spark", 10.0),
    (1, "sparc", 90.0),
    (2, "table", 50.0),
    (3, "tables", 20.0),
    (4, "cable", 70.0),
    (5, "merge", 30.0),
    (6, "marge", 60.0),
    (7, "query", 40.0),
    (8, "queue", 80.0),
    (9, "window", 25.0),
    (10, "widow", 75.0),
    (11, "vector", 15.0),
    (12, "victor", 85.0),
    (13, "stream", 45.0),
    (14, "steam", 65.0),
]


def docs_token_correction(spark, sf_dir):
    """J4/J5/A4/W6 on the driver corpus: distinct document tokens
    corrected against the inline dictionary with the EXACT reference
    tie-break (trietree_correct.py:202-242 incl. the first-iteration
    return), k=1 with k+3 retry and identity fallback. Unlike the
    fixture-backed `correction` query, the oracle here is a full
    independent SQL implementation of the same semantics."""
    from . import schemas as S
    from .operators.correction import correct_tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(TS.tokens(F.col("text"))).alias("token"))  # correct_tokens distincts
    dict_df = spark.createDataFrame(CORRECTION_DICT, schema=S.DICTIONARY)
    return correct_tokens(toks, dict_df, max_cost=1)


def _duck_correction_sql() -> str:
    dict_rows = ", ".join(f"({i}, '{w}', {f})" for i, w, f in CORRECTION_DICT)
    return rf"""
WITH dict(line_id, word, freq) AS (VALUES {dict_rows}),
toks AS (
  -- uniform() normalization (Q2B + lower) mirrors correct_tokens;
  -- empty/space-only docs yield no tokens in Spark
  SELECT DISTINCT lower(translate(unnest(regexp_split_to_array(trim(text), '\s+')),
         '　！＂＃＄％＆＇（）＊＋，－．／０１２３４５６７８９：；＜＝＞？＠ＡＢＣＤＥＦＧＨＩＪＫＬＭＮＯＰＱＲＳＴＵＶＷＸＹＺ［＼］＾＿｀ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ｛｜｝～', ' !"#$%&''()*+,-./0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVWXYZ[\]^_`abcdefghijklmnopqrstuvwxyz{{|}}~')) AS token
  FROM documents WHERE trim(text) <> ''
),
cand AS (
  SELECT t.token, d.line_id, d.word, d.freq, levenshtein(t.token, d.word) AS dist
  FROM toks t CROSS JOIN dict d
  WHERE levenshtein(t.token, d.word) <= 4
),
eff AS (
  SELECT *,
         CASE WHEN min(dist) OVER (PARTITION BY token) <= 1 THEN 1 ELSE 4 END AS eff_cost
  FROM cand
),
inrad AS (
  SELECT * FROM eff WHERE dist <= eff_cost
),
md AS (
  SELECT *, min(dist) OVER (PARTITION BY token) AS min_dist FROM inrad
),
minset AS (
  SELECT *,
         row_number() OVER (PARTITION BY token ORDER BY dist ASC, line_id ASC) AS rn,
         count(*) OVER (PARTITION BY token) AS n_min,
         first_value(word) OVER (PARTITION BY token ORDER BY freq DESC, line_id ASC) AS best_freq_word
  FROM md WHERE dist = min_dist
),
resolved AS (
  SELECT token,
         CASE WHEN min_dist = 0 OR n_min = 1 OR length(word) = length(token)
              THEN word ELSE best_freq_word END AS corrected
  FROM minset WHERE rn = 1
)
SELECT t.token, coalesce(r.corrected, t.token) AS corrected
FROM toks t LEFT JOIN resolved r ON t.token = r.token
"""


def parts_never_ordered(spark, sf_dir):
    """Anti-join (J7 family / NOT EXISTS): parts with no lineitem."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey")).distinct()
    return part.join(li, "p_partkey", "left_anti").select(
        "p_partkey", "p_type", F.round("p_retailprice", 2).alias("retail")
    )


PARTS_NEVER_SQL = """
SELECT p_partkey, p_type, round(p_retailprice, 2) AS retail
FROM part WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


def suppliers_with_orders(spark, sf_dir):
    """Semi-join (EXISTS): suppliers that appear in lineitem, with their
    nation label (broadcast dim)."""
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("s_suppkey")).distinct()
    return (
        sup.join(li, "s_suppkey", "left_semi")
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "n_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


SUPPLIERS_WITH_SQL = """
SELECT s_suppkey, n_name, round(s_acctbal, 2) AS acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
"""


def lineitem_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per return flag (percentile /
    quantile_cont share the same linear-interpolation definition)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("p25_qty"),
        F.count(F.lit(1)).alias("n"),
    )


LINEITEM_QUANTILES_SQL = """
SELECT l_returnflag,
       CAST(round(quantile_cont(l_extendedprice, 0.5), 4) AS DOUBLE) AS p50_price,
       CAST(round(quantile_cont(l_extendedprice, 0.9), 4) AS DOUBLE) AS p90_price,
       CAST(round(quantile_cont(l_quantity, 0.25), 4) AS DOUBLE) AS p25_qty,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def _centroid_per_dim(e):
    """(label, dim, c) per-label centroid components WITHOUT the n x d
    posexplode: the Arrow kernel emits one (label, n, sums) partial per
    input partition (group_vector_sums_df), and only that tiny partial
    table posexplodes into the final per-dimension combine — each
    partial appears exactly once per dim, so sum(n) per (label, dim) is
    the label's vector count. The posexplode-over-every-vector form is
    the DuckDB oracle (EMB_CENTROIDS_SQL, unchanged)."""
    partials = V.group_vector_sums_df(e, "label", "embedding")
    flat = partials.select(
        "label", F.posexplode(F.arrays_zip("sums", "counts")).alias("dim", "sc")
    )
    return (
        flat.groupBy("label", "dim")
        .agg(
            F.sum(F.col("sc.sums")).alias("ssum"),
            F.sum(F.col("sc.counts")).alias("cnt"),
        )
        # cnt = non-null contributions for this dim (avg's null-skip);
        # an all-null dim keeps its row with c = null, like the explode
        .select(
            "label",
            "dim",
            F.when(F.col("cnt") > 0, F.col("ssum") / F.col("cnt")).alias("c"),
        )
    )


def emb_label_centroids(spark, sf_dir):
    """Per-label centroid stats over the embedding column: per-partition
    vector-sum kernel partials -> per-dim combine -> centroid L2 norm —
    the aggregation path a clustering/IVF build takes, minus the n x d
    row explosion through the shuffle."""
    e = _t(spark, sf_dir, "embeddings")
    per_dim = _centroid_per_dim(e)
    return (
        per_dim.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
            F.count(F.lit(1)).alias("n_dims"),
        )
    )


EMB_CENTROIDS_SQL = """
WITH flat AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM embeddings
), per_dim AS (
  SELECT label, dim, avg(CAST(v AS DOUBLE)) AS c FROM flat GROUP BY label, dim
)
SELECT label,
       round(sqrt(sum(c * c)), 6) AS centroid_norm,
       count(*) AS n_dims
FROM per_dim GROUP BY label
"""


# ===========================================================================
# Fourth batch: IVF-style ANN, quality-filter summary
# ===========================================================================

def emb_ivf_topk(spark, sf_dir):
    """IVF-style ANN: coarse quantizer = per-label centroids (stand-in
    for k-means cells, deterministic); probes search ONLY their nearest
    cell's vectors (nprobe=1). The scale path: cell assignment is a
    broadcast argmin over ~k centroids, the fine search touches 1/k of
    the corpus per probe. Returns top-2 per probe with exact rounded
    cosine + the searched cell."""
    return _ivf_topk_impl(spark, sf_dir, nprobe=1)


def emb_ivf_multiprobe(spark, sf_dir):
    """IVF with nprobe=2 — the recall knob: each probe searches its TWO
    nearest cells (candidates 2/k of the corpus), recovering neighbors
    that fell just across a cell boundary. Same broadcast-assign +
    cell-equi-join shape; only the per-probe cell fan-out changes."""
    return _ivf_topk_impl(spark, sf_dir, nprobe=2)


def _ivf_assign(e: DataFrame, nprobe: int) -> DataFrame:
    """Coarse-quantizer routing shared by the IVF and IVF-PQ queries:
    build per-label centroids from kernel partials (no n x d explode
    before the shuffle), then assign each probe (vec_id < 30) to its
    top-nprobe cells by rounded cosine (cell-asc tie-break). Returns
    (q_id, q_emb, cell); the centroid table broadcasts — assignment is
    an argmin over ~k cells, never a corpus shuffle."""
    flat = _centroid_per_dim(e)
    cents = flat.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc")
    ).select(
        F.col("label").alias("cell"),
        F.transform("dc", lambda x: x["c"]).alias("centroid"),
    )
    probes = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    assigned_scores = probes.crossJoin(F.broadcast(cents)).select(
        "q_id",
        "q_emb",
        "cell",
        V.cosine_rounded_fast(F.col("q_emb"), F.col("centroid"), 6).alias("cell_cos"),
    )
    w_cell = Window.partitionBy("q_id").orderBy(F.col("cell_cos").desc(), F.col("cell").asc())
    return (
        assigned_scores.withColumn("rk", F.row_number().over(w_cell))
        .filter(F.col("rk") <= nprobe)
        .select("q_id", "q_emb", "cell")
    )


def _ivf_topk_impl(spark, sf_dir, nprobe: int):
    e = _t(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(e, nprobe)
    cand = e.join(
        F.broadcast(assigned),
        (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cand.select(
        "q_id", "vec_id", "cell", V.cosine_rounded_fast(F.col("q_emb"), F.col("embedding"), 6).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("q_id", "vec_id", "cell", "cos", F.col("rk").cast("long").alias("rk"))
    )


def _duck_ivf_sql(nprobe: int = 1) -> str:
    cos = lambda a, b: (
        f"coalesce(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (p, q) -> p + q) "
        f"/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q)) "
        f"* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q))), 6), 0.0)"
    )
    return f"""
WITH flat AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM embeddings
), per_dim AS (
  SELECT label, dim, avg(CAST(v AS DOUBLE)) AS c FROM flat GROUP BY label, dim
), cents AS (
  SELECT label AS cell, list_transform(list_sort(list({{'dim': dim, 'c': c}})), r -> r.c) AS centroid
  FROM per_dim GROUP BY label
), probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 30
), cell_scores AS (
  SELECT p.q_id, p.q_emb, c.cell, {cos("p.q_emb", "c.centroid")} AS cell_cos
  FROM probes p CROSS JOIN cents c
), assigned AS (
  SELECT q_id, q_emb, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cell_cos DESC, cell ASC) AS rk
    FROM cell_scores
  ) WHERE rk <= {nprobe}
), scored AS (
  SELECT a.q_id, e.vec_id, a.cell, {cos("a.q_emb", "e.embedding")} AS cos
  FROM embeddings e JOIN assigned a ON e.label = a.cell AND e.vec_id != a.q_id
)
SELECT q_id, vec_id, cell, cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
  FROM scored
) WHERE rk <= 2
"""


def docs_filter_summary(spark, sf_dir):
    """End-of-pipeline corpus filter summary: predicted language x
    keep/drop decision (quality >= 0.75 and 20 <= tokens) with counts —
    the acceptance report a training-data pipeline emits."""
    d = _t(spark, sf_dir, "documents")
    keep = (TS.quality_score(F.col("text")) >= 0.75) & (TS.token_count(F.col("text")) >= 20)
    return (
        d.select(
            TS.lang_id(F.col("text")).alias("pred_lang"),
            F.when(keep, "keep").otherwise("drop").alias("decision"),
        )
        .groupBy("pred_lang", "decision")
        .agg(F.count(F.lit(1)).alias("n"))
    )


DOCS_FILTER_SQL = rf"""
WITH b AS (
  SELECT text,
         length(text) AS n,
         CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
         length(regexp_replace(text, '[^0-9A-Za-z\s一-龥]', '', 'g')) AS n_keep,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace
  FROM documents
), scored AS (
  SELECT text, nw,
         round((
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw > 0 AND n_nospace / CAST(nw AS DOUBLE) BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE (n - n_keep) / CAST(n AS DOUBLE) END) <= 0.2
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw >= 5 THEN 1.0 ELSE 0.0 END)
         ) / 4.0, 4) AS quality
  FROM b
)
SELECT {_lang_case_sql()} AS pred_lang,
       CASE WHEN quality >= 0.75 AND nw >= 20 THEN 'keep' ELSE 'drop' END AS decision,
       count(*) AS n
FROM scored GROUP BY 1, 2
"""


def _materialize(
    df: DataFrame,
    reliable: bool,
    eager: bool = True,
    pending_unpersist: list | None = None,
) -> DataFrame:
    """Lineage-truncating materialization for iterative loops.
    reliable=False -> localCheckpoint: executor-local storage, fast, but
    an executor loss mid-job forces a recompute from ALREADY-TRUNCATED
    lineage (job failure). reliable=True -> storage-backed
    df.checkpoint(): survives executor loss — the production setting
    for a multi-hour CC job on a real cluster (requires
    spark.sparkContext.setCheckpointDir on durable storage; the caller
    sets a temp dir if none is configured). eager=False defers the
    materializing job to the first consuming action — inside the CC
    loop the eager `jumped` checkpoint is that action, so a lazy round
    runs ONE job.

    "Computed exactly once" holds unconditionally for localCheckpoint.
    Reliable Dataset.checkpoint recomputes the lineage in a SEPARATE
    job to write the checkpoint files, so reliable mode persists the
    input first: the checkpoint-writer job then reads the cache instead
    of re-running the plan. Eager callers unpersist immediately (files
    are durable once checkpoint() returns); lazy callers can't — the
    consuming action hasn't run yet — so the persisted df is appended
    to `pending_unpersist` for the caller to drain after its round's
    action completes."""
    if reliable:
        df = df.persist()
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist()
        elif pending_unpersist is not None:
            pending_unpersist.append(df)
        return out
    return df.localCheckpoint(eager=eager)


# CC-loop introspection: job group the loop's actions run under (tests
# count jobs per round against it) + stats from the most recent run.
_CC_JOB_GROUP = "basicocr-cc-loop"
LAST_CC_STATS: dict = {}


def _dup_graph_labels(spark, sf_dir, reliable: bool = False) -> DataFrame:
    """Connected-component labels (doc_id, rep) over ONLY the vertices
    that appear in the MinHash/LSH pair graph. Isolated documents — the
    overwhelming majority of a real corpus — never enter the iterative
    loop, so every round's join/agg state is proportional to the DUP
    GRAPH, not the corpus: at 100 TB the per-round shuffle is a few
    million label rows, not the full trillion-row id set. Callers union
    isolated docs back (mapped to themselves) however is cheapest for
    their shape."""
    if reliable and spark.sparkContext.getCheckpointDir() is None:
        # fail fast: silently defaulting to a driver-local temp dir would
        # defeat the mode's purpose (executors can't read the driver's
        # /tmp on a real cluster, and the data doesn't survive the loss
        # reliable mode exists to survive)
        raise RuntimeError(
            "docs_dup_clusters(reliable=True) needs "
            "spark.sparkContext.setCheckpointDir(<durable shared storage>) "
            "configured first; refusing to fall back to driver-local /tmp."
        )
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    # materialization truncates lineage every round — without it the
    # nested iterative plan grows until the optimizer itself OOMs
    edges = _materialize(edges, reliable)
    # the edge list is symmetric, so src alone covers every vertex
    labels = _materialize(
        edges.select(F.col("src").alias("doc_id")).distinct()
        .select("doc_id", F.col("doc_id").alias("rep")),
        reliable,
    )
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(_CC_JOB_GROUP, "dup-graph connected components loop")
    rounds = 0
    try:
        for _ in range(12):  # diameter bound; fixpoint check below
            rounds += 1
            pend: list = []
            # ONE materializing job per round: prop checkpoints lazily
            # (it rides the eager `jumped` checkpoint below), and the
            # convergence count rides that same job as an Observation
            # on the jump output — no separate blocking count job, so
            # the driver does one round-trip per round, not two
            prop = _materialize(
                edges.join(labels, edges.src == labels.doc_id)
                .select(F.col("dst").alias("doc_id"), "rep")
                .unionByName(labels)
                .groupBy("doc_id")
                .agg(F.min("rep").alias("rep")),
                reliable,
                eager=False,
                pending_unpersist=pend,
            )
            # pointer jumping: rep := rep(rep) — halves remaining
            # diameter, giving O(log n) total rounds instead of
            # O(diameter)
            m = prop.select(F.col("doc_id").alias("m_doc"), F.col("rep").alias("m_rep"))
            obs = Observation()
            jumped = _materialize(
                prop.join(m, prop.rep == m.m_doc, "left")
                .select("doc_id", F.coalesce("m_rep", "rep").alias("rep"))
                # prop/jumped cover exactly labels' vertex set, so the
                # inner join is lossless; old_rep exists only to feed
                # the observed changed-count and is projected away
                .join(labels.select("doc_id", F.col("rep").alias("old_rep")), "doc_id")
                .observe(
                    obs,
                    # coalesce: SUM over zero rows is NULL — an empty dup
                    # graph must read as 0 changes (break after round 1),
                    # not None != 0 (12 wasted rounds)
                    F.coalesce(
                        F.sum((F.col("rep") != F.col("old_rep")).cast("long")),
                        F.lit(0),
                    ).alias("changed"),
                )
                .select("doc_id", "rep"),
                reliable,
                eager=True,
            )
            changed = obs.get["changed"]
            for cached in pend:  # reliable mode: round's action is done
                cached.unpersist()
            labels = jumped
            if not changed:
                break
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", None)
    LAST_CC_STATS.clear()
    LAST_CC_STATS.update({"rounds": rounds, "job_group": _CC_JOB_GROUP})
    return labels


def docs_dup_clusters(spark, sf_dir, reliable: bool = False):
    """Near-duplicate CLUSTERS: connected components over the MinHash/LSH
    pair graph via iterative min-label propagation (the large-star/
    small-star family — driver controls the loop, every step is a pure
    DataFrame join+agg, converges in O(component diameter) rounds).
    Every document gets a cluster representative (isolated docs map to
    themselves — via a single left join against the small dup-graph
    label table, never inside the loop). This is the dedup decision
    table a corpus pipeline feeds back into the scan filter. Pass
    reliable=True to persist each round to the Spark checkpoint dir
    (fault-tolerant recovery: after an executor loss the job recomputes
    only the current round from the last durable checkpoint, instead of
    dying on truncated lineage)."""
    labels = _dup_graph_labels(spark, sf_dir, reliable)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", F.col("doc_id")).alias("cluster_rep")
    )


DOCS_CLUSTERS_SQL_TEMPLATE = """
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc, e.dst FROM walk w JOIN edges e ON e.src = w.reach
)
SELECT doc AS doc_id, min(reach) AS cluster_rep FROM walk GROUP BY doc
"""


def _duck_clusters_sql() -> str:
    inner = _duck_minhash_sql().strip()
    # embed the minhash pair query as the seed CTE body
    return DOCS_CLUSTERS_SQL_TEMPLATE.format(pairs_sql=inner)


# PII fixtures: deterministic literal replacements lift corpus phrases
# into PII-bearing text (emails / phone-shaped digit runs), same
# engine-pairable technique as CJK_REPLACEMENTS. Patterns stay in the
# RE2-and-Java-common regex subset (ASCII \w, \b, \d — no lookaround).
PII_REPLACEMENTS = [
    ("big table", "contact alice.smith@example.com today"),
    ("fast row", "call 555-0142 now"),
    ("slow query", "email bob_jones@mail.example.org or dial 555-0199"),
]
PII_EMAIL_RE = r"\b[\w.]+@[\w.]+\.[A-Za-z]{2,}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


def _pii_text_col():
    return _replace_chain_col(F.col("text"), PII_REPLACEMENTS)


def docs_pii_scrub(spark, sf_dir):
    """PII scrubbing — a first-class training-data pipeline operator:
    redact emails and phone-shaped digit runs with typed placeholders,
    emitting per-doc redaction counts + cleaned length. Pure
    regexp_count/regexp_replace column math (whole-stage codegen, zero
    shuffle beyond the scan — a pure map at 100 TB). The corpus is
    lifted into PII-bearing text deterministically so both engines
    scrub the identical input."""
    d = _t(spark, sf_dir, "documents")
    txt = _pii_text_col()
    after_email = F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(after_email, PII_PHONE_RE, "<PHONE>")
    # phone count runs on the EMAIL-SCRUBBED text, matching what the
    # sequential scrub actually replaces — counting on raw text
    # overstates when a phone-shaped run overlaps an email match
    # (e.g. '555-0142@example.com': the email eats '0142@...', no phone
    # replacement happens)
    return d.select(
        "doc_id",
        F.regexp_count(txt, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(after_email, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(scrubbed).cast("long").alias("clean_len"),
    )


def _duck_pii_sql() -> str:
    txt = _duck_replace_chain("text", PII_REPLACEMENTS)
    # DuckDB string literals keep backslashes literally — the raw
    # patterns drop straight in; regexp_replace needs the 'g' flag
    email, phone = PII_EMAIL_RE, PII_PHONE_RE
    return f"""
WITH lifted AS (SELECT doc_id, {txt} AS t FROM documents),
staged AS (
  SELECT doc_id, t, regexp_replace(t, '{email}', '<EMAIL>', 'g') AS after_email
  FROM lifted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{phone}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(after_email, '{phone}', '<PHONE>', 'g')) AS BIGINT) AS clean_len
FROM staged
"""


def events_asof_join(spark, sf_dir):
    """As-of join — an operator Spark has no native form of (time-series
    attribution: each purchase picks up the most recent prior click of
    the same user). Implemented scale-correctly as union + running
    last_value(ignore nulls) over ONE (user_id, ts, event_id)-ordered
    window — a single shuffle on user_id, no range-expanded join, no
    per-user collect. The prior-or-equal contract is lexicographic on
    (ts, event_id); purchases with no prior click keep nulls. The
    oracle runs the identical window formulation, so the comparison
    pins the as-of semantics cross-engine."""
    e = _t(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.when(is_click, F.col("event_id")).alias("c_id"),
        F.when(is_click, F.col("value")).alias("c_val"),
    )
    # explicit nulls-last: Spark default-sorts nulls FIRST, DuckDB LAST —
    # a null ts would change which click is "prior" between engines
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.last("c_id", ignorenulls=True).over(w).alias("last_click_id"),
            F.last("c_val", ignorenulls=True).over(w).alias("last_click_value"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value", "last_click_id", "last_click_value")
    )


RANGE_JOIN_BIN_US = 300_000_000  # 5-minute proximity band, in microseconds


def events_range_join(spark, sf_dir):
    """Range (interval-proximity) join — like the as-of join, an
    operator Spark has no native form of: attach to each top-value
    'error' incident every OTHER event within +-5 minutes, with NO
    equi-key between the sides. The naive theta-join is a full cross
    product; the scale-correct shape used here is bin bucketing: each
    event lands in one 5-minute bin, each incident explodes to its 3
    covering bins (b-1, b, b+1 — any |dt| <= bin fits one of them), the
    join is a plain BIN EQUI-JOIN Catalyst can hash-partition and
    AQE-skew-split, and the exact |dt| predicate filters the residual.
    Each qualifying pair appears exactly once (an event has one bin; an
    incident lists each bin once). Oracle: the naive theta join."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
        "value",
    )
    # incident selection: orderBy().limit() = TakeOrderedAndProject
    # (distributed partial top-20, driver merge) — NOT a global
    # row_number window, which would funnel every error event into one
    # window task. (value desc, event_id asc) is a total order, so the
    # limit is deterministic.
    incidents = (
        e.filter(F.col("event_type") == "error")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(20)
        .select(F.col("event_id").alias("incident_id"), F.col("us").alias("ius"))
    )
    bins = F.explode(
        F.array(
            *[
                (F.col("ius") / F.lit(RANGE_JOIN_BIN_US)).cast("long") + F.lit(d)
                for d in (-1, 0, 1)
            ]
        )
    )
    binned_incidents = incidents.select("incident_id", "ius", bins.alias("bin"))
    binned_events = e.select(
        "event_id", "us", "value", (F.col("us") / F.lit(RANGE_JOIN_BIN_US)).cast("long").alias("bin")
    )
    pairs = binned_events.join(F.broadcast(binned_incidents), "bin").filter(
        (F.abs(F.col("us") - F.col("ius")) <= RANGE_JOIN_BIN_US)
        & (F.col("event_id") != F.col("incident_id"))
    )
    return pairs.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_nearby"),
        F.round(F.sum("value"), 2).alias("total_nearby_value"),
    )


EVENTS_RANGE_SQL = f"""
WITH incidents AS (
  SELECT event_id AS incident_id, epoch_us(ts) AS ius FROM (
    SELECT *, row_number() OVER (ORDER BY value DESC, event_id ASC) AS rk
    FROM events WHERE event_type = 'error'
  ) WHERE rk <= 20
)
SELECT i.incident_id, count(*) AS n_nearby, round(sum(e.value), 2) AS total_nearby_value
FROM incidents i JOIN events e
  ON abs(epoch_us(e.ts) - i.ius) <= {RANGE_JOIN_BIN_US} AND e.event_id != i.incident_id
GROUP BY 1
"""


EVENTS_ASOF_SQL = """
WITH tagged AS (
  SELECT event_id, ts, user_id, event_type, value,
         CASE WHEN event_type = 'click' THEN event_id END AS c_id,
         CASE WHEN event_type = 'click' THEN value END AS c_val
  FROM events WHERE event_type IN ('click', 'purchase')
), run AS (
  SELECT event_id, user_id, ts, event_type, value,
         last_value(c_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
         last_value(c_val IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
  FROM tagged
)
SELECT event_id, user_id, ts, value, last_click_id, last_click_value
FROM run WHERE event_type = 'purchase'
"""


def docs_dedup_keep_best(spark, sf_dir):
    """The dedup DECISION table — the composition an LLM-data pipeline
    actually ships: near-dup clusters (MinHash-LSH -> connected
    components) joined with quality scores; per cluster exactly one
    member is kept (quality desc, doc_id asc tie-break). Downstream the
    corpus scan anti-joins keep=false. Only dup-graph members (a tiny
    fraction of any real corpus) pass through the ranking window; every
    isolated doc is its own cluster with keep=true, decided in the
    projection — so the corpus-sized leg is one left join against the
    dup-graph label table (AQE broadcasts it when it is small, which is
    the common case; a pathological 50%-dup crawl still only shuffles
    (id, rep) pairs), with NO corpus-wide window shuffle."""
    labels = _dup_graph_labels(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", TS.quality_score(F.col("text")).alias("quality"))
    joined = q.join(labels, "doc_id", "left")
    iso = joined.filter(F.col("rep").isNull()).select(
        "doc_id",
        F.col("doc_id").alias("cluster_rep"),
        "quality",
        F.lit(True).alias("keep"),
    )
    dup = joined.filter(F.col("rep").isNotNull())
    w = Window.partitionBy("rep").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = dup.withColumn("rk", F.row_number().over(w)).select(
        "doc_id",
        F.col("rep").alias("cluster_rep"),
        "quality",
        (F.col("rk") == 1).alias("keep"),
    )
    return ranked.unionByName(iso)


def _duck_dedup_keep_best_sql() -> str:
    clusters = _duck_clusters_sql().strip()
    quality = DOCS_QUALITY_SQL.strip()
    return f"""
WITH clusters AS ({clusters}),
quality AS ({quality})
SELECT c.doc_id, c.cluster_rep, q.quality,
       (row_number() OVER (PARTITION BY c.cluster_rep
                           ORDER BY q.quality DESC, c.doc_id ASC) = 1) AS keep
FROM clusters c JOIN quality q ON q.doc_id = c.doc_id
"""


def docs_split_sample(spark, sf_dir):
    """W7-analog deterministic sampler: hash-free modular split of the
    corpus into train/val/test (98/1/1-style buckets scaled down) — the
    reproducible alternative to rand(seed) that survives re-runs and
    engine changes. Emits split sizes + token totals."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod((F.col("doc_id") % MOD) * 2654435761 % MOD, F.lit(10))
    # (doc_id % MOD) first: the raw product overflows int64 at doc_id
    # >= ~3.5e9 — Spark wraps silently, DuckDB raises; (MOD-1) *
    # 2654435761 stays under 2^63 so both engines agree at any id
    split = (
        F.when(bucket <= 7, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), TS.token_count(F.col("text")).alias("nt"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("n_tokens"))
    )


DOCS_SPLIT_SQL = rf"""
WITH b AS (
  SELECT CASE WHEN (((doc_id % {MOD}) * 2654435761) % {MOD}) % 10 <= 7 THEN 'train'
              WHEN (((doc_id % {MOD}) * 2654435761) % {MOD}) % 10 = 8 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
  FROM documents
)
SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens FROM b GROUP BY split
"""


# ===========================================================================
# Containment / substring-duplication / subword operators (round 3)
# ===========================================================================

CONTAIN_NUM, CONTAIN_DEN = 9, 10  # containment threshold 0.9, exact integers
CONTAIN_MIN_SHINGLES = 5
CONTAIN_K = 3  # shingle width: 3-token shingles; unigram sets are
# degenerate on a small-vocab corpus (every doc's word set ~ the
# vocabulary, so containment >= 0.9 holds for ~36% of ALL pairs at
# sf0.001) and too coarse at web scale (topic words != copied text)


def docs_containment_pairs(spark, sf_dir):
    """Asymmetric set-containment near-dup pairs over distinct 3-token
    SHINGLE sets: C(A->B) = |A cap B| / |A| >= 0.9 (|A| >= 5 shingles) —
    the quote/subset duplication symmetric Jaccard misses (a paragraph
    wholly lifted into a 10x-longer page has J ~ 0.1 but C = 1.0).
    Shingles shuffle as 64-bit poly hashes, never strings; a collision
    only ever ADDs to an intersection and the oracle hashes identically,
    so parity is exact. Scale shape: asymmetric prefix filter — if
    C >= t, at most |A| - ceil(t|A|) of A's shingles are outside B, so
    among A's first |A| - ceil(t|A|) + 1 shingles under the global
    (df asc, hash asc) order at least one is in B. Only those A-prefix
    shingles enter the inverted-index join against B's full shingle
    list; rarest-first ordering keeps boilerplate shingles out of
    prefixes, so no df^2 bucket. Candidates verify exactly on full
    distinct sets (two-phase, like docs_jaccard_pairs); the integer
    threshold 10*inter >= 9*|A| mirrors the prefix filter's exact
    guarantee. Oracle: naive all-pairs inverted-index SQL."""
    d = _t(spark, sf_dir, "documents")
    toks_df = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    gram_arr = F.when(
        F.size(toks) >= CONTAIN_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - CONTAIN_K + 1),
            lambda i: F.array_join(F.slice(toks, i, CONTAIN_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        toks_df.select("doc_id", F.explode(gram_arr).alias("gram"))
        # Arrow poly-hash kernel, not the interpreted Catalyst fold —
        # bit-identical (pinned in test_hash_kernels) and this per-gram
        # projection is the query's hottest column op
        .select("doc_id", HK.poly_hash_kernel(F.col("gram")).alias("gh"))
        .distinct()
    )
    df_counts = sh.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("gh").asc())
    pos = sh.join(df_counts, "gh").select(
        "doc_id",
        "gh",
        F.row_number().over(w_doc).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
    )
    ceil_t_sz = F.floor(
        (F.lit(CONTAIN_NUM) * F.col("sz") + F.lit(CONTAIN_DEN - 1)) / F.lit(CONTAIN_DEN)
    )
    prefix = pos.filter(
        (F.col("sz") >= CONTAIN_MIN_SHINGLES)
        & (F.col("pos") <= F.col("sz") - ceil_t_sz + 1)
    ).select("doc_id", "gh")
    cands = (
        prefix.alias("a")
        .join(sh.alias("b"), "gh")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_sub"), F.col("b.doc_id").alias("doc_sup"))
        .distinct()
        # two consumers below (the id prune and the verify join): lazy
        # checkpoint so candidates compute once without an eager job
        .localCheckpoint(eager=False)
    )
    # candidate-pruned verification, mirroring docs_near_dup_verified:
    # full shingle SETS are aggregated only for docs that appear in a
    # candidate pair (semi-join prune), never corpus-wide — the prefix
    # filter's whole point was to keep non-candidate docs out of the
    # expensive set materialization/shuffle
    cand_ids = (
        cands.select(F.col("doc_sub").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_sup").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh.join(cand_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("gh").alias("hs"))
    )
    a = sets.select(F.col("doc_id").alias("doc_sub"), F.col("hs").alias("ha"))
    b = sets.select(F.col("doc_id").alias("doc_sup"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect(F.col("ha"), F.col("hb")))
    sz_a = F.size(F.col("ha"))
    return (
        cands.join(a, "doc_sub")
        .join(b, "doc_sup")
        .filter(
            (sz_a >= CONTAIN_MIN_SHINGLES) & (inter * CONTAIN_DEN >= sz_a * CONTAIN_NUM)
        )
        .select(
            "doc_sub",
            "doc_sup",
            F.round(inter / sz_a.cast("double"), 6).alias("containment"),
        )
    )


def _duck_containment_sql() -> str:
    k = CONTAIN_K
    return rf"""
WITH tok AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), grams AS (
  SELECT doc_id, unnest(CASE WHEN len(arr) >= {k}
    THEN list_transform(generate_series(1, len(arr) - {k - 1}),
                        i -> array_to_string(arr[i:i+{k - 1}], ' '))
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tok
), sh AS (
  SELECT DISTINCT doc_id, {_duck_poly("gram")} AS gh FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup, count(*) AS common
  FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT doc_sub, doc_sup, round(common / CAST(sa.sz AS DOUBLE), 6) AS containment
FROM common JOIN sizes sa ON sa.doc_id = doc_sub
WHERE sa.sz >= {CONTAIN_MIN_SHINGLES} AND common * {CONTAIN_DEN} >= sa.sz * {CONTAIN_NUM}
"""


SHARED_NGRAM_N = 10  # exact-substring evidence width (Lee et al. 2022)
SHARED_NGRAM_DF_CAP = 20  # grams in more docs are boilerplate, not dups


def _gram_hashes(toks_df: DataFrame, n: int) -> DataFrame:
    """(doc_id, gh): distinct 64-bit poly hashes of the n-token grams of
    a (doc_id, toks) table. Grams shuffle as hashes, never strings — an
    n-word gram is ~6n bytes, the hash is 8."""
    toks = F.col("toks")
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks_df.select("doc_id", F.explode(gram_arr).alias("gram"))
        .select("doc_id", HK.poly_hash_kernel(F.col("gram")).alias("gh"))
        .distinct()
    )


CONTAM_NGRAM_N = 13  # GPT-3 appendix-C decontamination gram width
CONTAM_BENCH_MOD = 7  # deterministic stand-in eval slice: doc_id % 7 == 1
CONTAM_BENCH_REM = 1
CONTAM_BENCH_DF_CAP = 10  # grams in >10 bench docs are chrome, not evidence


def benchmark_contamination(
    corpus_toks: DataFrame,
    bench_toks: DataFrame,
    n: int = CONTAM_NGRAM_N,
    bench_df_cap: int = CONTAM_BENCH_DF_CAP,
) -> DataFrame:
    """Benchmark-decontamination flags: corpus docs sharing any exact
    n-token gram with the benchmark/eval table — the pre-training-gate
    step every training-data pipeline runs so eval answers don't leak
    into the corpus (GPT-3 appendix C; Lee et al. 2022). Inputs are
    (doc_id, toks) tables; output one row per CONTAMINATED corpus doc:
    (doc_id, n_contam_grams = distinct matched grams, n_bench_docs =
    distinct benchmark docs implicated).

    Scale shape: this is the ONE-SIDED docs_shared_ngram_pairs — the
    benchmark gram table is eval-suite-sized (thousands of docs, not
    10^12), so it BROADCASTS and the corpus-sized gram projection joins
    map-side with zero shuffle of the corpus; the only wide op is the
    per-doc count agg, map-side combinable. Grams occurring in more than
    bench_df_cap benchmark docs are dropped on the (tiny) benchmark side
    before the broadcast — shared navigation chrome across eval files
    must not flag half the web."""
    bg = _gram_hashes(bench_toks, n).localCheckpoint(eager=False)  # 2 consumers
    bg_ok = bg.join(
        bg.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= bench_df_cap)
        .select("gh"),
        "gh",
        "left_semi",
    ).select(F.col("doc_id").alias("bench_id"), "gh")
    cg = _gram_hashes(corpus_toks, n)
    return (
        cg.join(F.broadcast(bg_ok), "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_contam_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def docs_benchmark_contamination(spark, sf_dir):
    """Catalog entry: the deterministic doc_id % CONTAM_BENCH_MOD ==
    CONTAM_BENCH_REM slice stands in for the external benchmark table
    (in production it's a broadcast eval-suite table); every other doc
    is corpus. See benchmark_contamination for semantics + scale shape."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    is_bench = (F.col("doc_id") % CONTAM_BENCH_MOD) == CONTAM_BENCH_REM
    return benchmark_contamination(
        toks_df.filter(~is_bench), toks_df.filter(is_bench)
    )


def _duck_contamination_sql() -> str:
    n = CONTAM_NGRAM_N
    return rf"""
WITH tok AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, {_duck_poly("g")} AS gh FROM (
    SELECT doc_id, unnest(CASE WHEN len(arr) >= {n}
      THEN list_transform(generate_series(1, len(arr) - {n - 1}),
                          i -> array_to_string(arr[i:i+{n - 1}], ' '))
      ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM tok)
), bg AS (
  SELECT doc_id AS bench_id, gh FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} = {CONTAM_BENCH_REM}
), bg_ok AS (
  SELECT bench_id, gh FROM bg
  WHERE gh IN (SELECT gh FROM bg GROUP BY gh
               HAVING count(*) <= {CONTAM_BENCH_DF_CAP})
), cg AS (
  SELECT doc_id, gh FROM grams
  WHERE doc_id % {CONTAM_BENCH_MOD} <> {CONTAM_BENCH_REM}
)
SELECT c.doc_id,
       count(DISTINCT c.gh) AS n_contam_grams,
       count(DISTINCT b.bench_id) AS n_bench_docs
FROM cg c JOIN bg_ok b USING (gh)
GROUP BY 1
"""


DOCS_CONTAMINATION_SQL = _duck_contamination_sql()


def docs_shared_ngram_pairs(spark, sf_dir):
    """CROSS-doc exact-substring duplication pairs: doc pairs sharing at
    least one exact SHARED_NGRAM_N-token n-gram, with the count of
    distinct shared grams — the deduplicate-training-data signal for
    verbatim passage reuse that set-level measures miss (two long docs
    sharing one lifted paragraph have tiny Jaccard AND tiny containment,
    but ANY shared 10-gram is near-proof of copying). Complements
    docs_dup_ngram_fraction (within-doc repetition) and
    docs_containment_pairs (whole-set ratio).

    Scale shape: grams shuffle as 64-bit poly hashes (distinct per doc —
    the projection is corpus-sized but each row is 16 bytes); the
    inverted-index self-join is gated to grams in 2..SHARED_NGRAM_DF_CAP
    docs, so a boilerplate gram shared by a million pages (df beyond the
    cap) generates ZERO pairs instead of a quadratic bucket — rare grams
    are the evidence, ubiquitous ones are navigation chrome. The cap is
    part of the operator's definition (the oracle applies it
    identically), not a silent truncation."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    # two consumers (df counts + the pair join): compute the kernel
    # projection once
    grams = _gram_hashes(toks_df, SHARED_NGRAM_N).localCheckpoint(eager=False)
    dfc = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("df"))
    evid = grams.join(
        dfc.filter((F.col("df") >= 2) & (F.col("df") <= SHARED_NGRAM_DF_CAP)).select(
            "gh"
        ),
        "gh",
        "left_semi",
    )
    return (
        evid.alias("a")
        .join(
            evid.alias("b"),
            (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _duck_shared_ngram_sql() -> str:
    n = SHARED_NGRAM_N
    return rf"""
WITH tok AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, {_duck_poly("g")} AS gh FROM (
    SELECT doc_id, unnest(CASE WHEN len(arr) >= {n}
      THEN list_transform(generate_series(1, len(arr) - {n - 1}),
                          i -> array_to_string(arr[i:i+{n - 1}], ' '))
      ELSE CAST([] AS VARCHAR[]) END) AS g
    FROM tok)
), evid AS (
  SELECT doc_id, gh FROM grams
  WHERE gh IN (SELECT gh FROM grams GROUP BY gh
               HAVING count(*) BETWEEN 2 AND {SHARED_NGRAM_DF_CAP})
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM evid a JOIN evid b ON a.gh = b.gh AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


DOCS_SHARED_NGRAM_SQL = _duck_shared_ngram_sql()


DUP_GRAM_N = 5  # token-gram width for substring-duplication detection


def docs_dup_ngram_fraction(spark, sf_dir):
    """Substring-level duplication signal (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better' ExactSubstr
    criterion, at token-gram granularity): per document, the fraction of
    its 5-token-gram positions whose gram also occurs in ANOTHER
    document. Doc-level dedup misses a boilerplate paragraph pasted into
    thousands of otherwise-unique pages; this table is what a pipeline
    thresholds to route such docs to substring clipping.
    Scale shape: grams shuffle as 64-bit-wide poly hashes, never as
    strings (a 5-word gram is ~30 bytes; the hash is 8 — at 10^12 docs
    the gram table is the biggest shuffle in the whole pipeline). The
    per-(doc, gram) count is map-side combinable; cross-doc occurrence
    is a count over those distinct rows; the dup set joins back on the
    same hash key. A hash collision only ever ADDs a duplicated gram,
    and the oracle groups by the identical hash, so parity is exact."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    toks = F.col("toks")
    gram_arr = F.when(
        F.size(toks) >= DUP_GRAM_N,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - DUP_GRAM_N + 1),
            lambda i: F.array_join(F.slice(toks, i, DUP_GRAM_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks_df.select(
        "doc_id", F.explode(gram_arr).alias("gram")
    ).select("doc_id", HK.poly_hash_kernel(F.col("gram")).alias("gh"))
    per_doc_gram = grams.groupBy("doc_id", "gh").agg(F.count(F.lit(1)).alias("npos"))
    # rows of per_doc_gram are distinct (doc_id, gh): count(*) per gh IS
    # the distinct-document count, no countDistinct shuffle needed
    dup = (
        per_doc_gram.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gh")
    )
    dup_per_doc = (
        per_doc_gram.join(dup, "gh").groupBy("doc_id").agg(F.sum("npos").alias("dup"))
    )
    tot = per_doc_gram.groupBy("doc_id").agg(F.sum("npos").alias("total_grams"))
    dup_grams = F.coalesce(F.col("dup"), F.lit(0)).cast("long")
    return tot.join(dup_per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("total_grams").cast("long").alias("total_grams"),
        dup_grams.alias("dup_grams"),
        F.round(dup_grams / F.col("total_grams").cast("double"), 6).alias("dup_fraction"),
    )


def _duck_dup_ngram_sql() -> str:
    n = DUP_GRAM_N
    return rf"""
WITH toks AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), grams AS (
  SELECT doc_id, unnest(CASE WHEN len(arr) >= {n}
    THEN list_transform(generate_series(1, len(arr) - {n - 1}),
                        i -> array_to_string(arr[i:i+{n - 1}], ' '))
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM toks
), hashed AS (
  SELECT doc_id, {_duck_poly("gram")} AS gh FROM grams
), per_doc AS (
  SELECT doc_id, gh, count(*) AS npos FROM hashed GROUP BY 1, 2
), dup AS (
  SELECT gh FROM per_doc GROUP BY gh HAVING count(*) >= 2
), dupd AS (
  SELECT p.doc_id, sum(p.npos) AS dup FROM per_doc p JOIN dup USING (gh) GROUP BY 1
), tot AS (
  SELECT doc_id, sum(npos) AS total_grams FROM per_doc GROUP BY 1
)
SELECT t.doc_id, CAST(t.total_grams AS BIGINT) AS total_grams,
       CAST(coalesce(d.dup, 0) AS BIGINT) AS dup_grams,
       round(coalesce(d.dup, 0) / CAST(t.total_grams AS DOUBLE), 6) AS dup_fraction
FROM tot t LEFT JOIN dupd d USING (doc_id)
"""


def docs_bpe_pair_counts(spark, sf_dir):
    """First BPE merge iteration: global frequencies of adjacent
    CHARACTER pairs within words (the statistic byte-pair-encoding
    greedily merges; the full trainer is this count -> merge -> recount
    loop). Word-level ngrams (docs_ngram_counts) see tokens; this sees
    subword structure. Top-40 deterministic. Scale shape: the pair
    explode is a pure projection; counting is partial+final hash agg
    (map-side combine absorbs the per-word repetition); ranking
    pre-reduces per partition (_local_topk) before the single-reducer
    window, so no reducer sees the full pair vocabulary."""
    d = _t_wide(spark, sf_dir, "documents")
    words = d.select(F.explode(TS.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("freq"))
    reduced = _local_topk(counts, 40, [], ["freq", "pair"], [False, True])
    w = Window.orderBy(F.col("freq").desc(), F.col("pair").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("pair", "freq", F.col("rk").cast("long").alias("rk"))
    )


DOCS_BPE_PAIRS_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE trim(text) <> ''
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM toks WHERE len(w) >= 2
), counts AS (
  SELECT pair, count(*) AS freq FROM pairs GROUP BY pair
)
SELECT pair, freq, row_number() OVER (ORDER BY freq DESC, pair ASC) AS rk
FROM counts QUALIFY rk <= 40
"""


N_BPE_MERGES = 20  # trainer loop depth (vocab_size - base alphabet)

# BPE-loop introspection, mirroring the CC loop's (_CC_JOB_GROUP):
# tests pin exactly one Spark job per merge round against the group.
_BPE_JOB_GROUP = "basicocr-bpe-loop"
LAST_BPE_STATS: dict = {}


def _bpe_char_syms(w):
    """Word -> character symbol array. The zero-length guard matters:
    Spark's sequence(1, 0) AUTO-DESCENDS to [1, 0] (two empty substrs)
    where DuckDB's generate_series(1, 0) is empty — and '' IS a real
    token for tab-led text (trim strips spaces only, so split emits a
    leading ''). Without the guard the empty word mints phantom ''
    symbols the oracle never sees."""
    return F.when(
        F.length(w) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bpe_apply_merge(syms, a: str, b: str):
    """Greedy left-to-right application of one BPE merge (a, b) to a
    symbol array, as a pure JVM fold (F.aggregate — no Python in the
    loop's hot path). The replace-last fold is exactly the reference
    greedy scan: a merged symbol a||b can never itself equal `a` (b is
    nonempty), so a fresh merge is never re-merged within the pass."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            F.size(acc) == 0, F.array(x)
        )
        .when(
            (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        )
        .otherwise(F.concat(acc, F.array(x))),
    )


# Session-scoped memo for shared subgraphs: several catalog entries
# consume the SAME expensive trained state (the BPE vocab feeds both
# docs_bpe_merges and docs_bpe_subword_counts; the LM perplexity table
# feeds both docs_lm_perplexity and docs_quality_lm_filter). Without the
# memo a full catalog sweep trains each model twice — duplicated work the
# round-4 review measured at ~13s of a 56s bench. Keyed weakly by the
# SparkSession (entries die with the session; a new session never sees a
# stale DataFrame) and by absolute sf_dir. At 10^12 docs the equivalent
# is writing the trained state to a table once per pipeline run — this
# memo is the single-process form of that discipline.
_SWEEP_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
SWEEP_BUILD_COUNTS: dict[str, int] = {}  # observability for tests


def _sweep_memo(spark: SparkSession, sf_dir: str, key: str, builder):
    per = _SWEEP_CACHE.setdefault(spark, {})
    k = (os.path.abspath(sf_dir), key)
    if k not in per:
        per[k] = builder()
        SWEEP_BUILD_COUNTS[key] = SWEEP_BUILD_COUNTS.get(key, 0) + 1
    return per[k]


def clear_sweep_cache(spark: SparkSession | None = None) -> None:
    """Drop memoized shared subgraphs (one session, or all). For tests
    that pin per-run job counts, and for callers that mutated the data
    under an sf_dir path in-place."""
    if spark is None:
        _SWEEP_CACHE.clear()
    else:
        _SWEEP_CACHE.pop(spark, None)


def _bpe_train(spark, sf_dir) -> tuple[list[tuple], DataFrame]:
    """Memoized per (session, sf_dir): the trainer runs once per sweep
    even though two catalog entries consume it. See _bpe_train_impl."""
    return _sweep_memo(
        spark, sf_dir, "bpe_train", lambda: _bpe_train_impl(spark, sf_dir)
    )


def _bpe_train_impl(spark, sf_dir) -> tuple[list[tuple], DataFrame]:
    """The full BPE TRAINER loop (Sennrich et al. 2016) — count adjacent
    symbol pairs, merge the argmax pair, recount — for N_BPE_MERGES
    rounds. Returns (merges, final_vocab): the learned merge table rows
    AND the trainer's final (freq, syms) vocabulary state, which IS the
    encoded corpus — docs_bpe_subword_counts consumes it directly
    instead of re-running the trainer and re-applying the fold chain.

    Scale shape: ONE corpus scan total — the loop state is the distinct
    WORD-FREQUENCY vocabulary (millions of rows at 100 TB, not the
    trillion-row corpus), localCheckpointed per round so the iterative
    plan never nests. Each round is a partial+final pair agg over the
    vocab plus an argmax via orderBy().limit(1) (TakeOrderedAndProject),
    and the merge application is a JVM array fold — zero Python, zero
    corpus re-scan. Tie-break (freq desc, a asc, b asc) pins the learned
    sequence across engines; the DuckDB oracle unrolls the identical
    loop (pair-count CTE -> argmax CTE -> list_reduce merge CTE per
    round)."""
    d = _t_wide(spark, sf_dir, "documents")
    vocab = _materialize(
        d.select(F.explode(TS.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _bpe_char_syms(F.col("w")).alias("syms")),
        reliable=False,
    )
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(_BPE_JOB_GROUP, "BPE trainer loop")
    merges: list[tuple] = []
    try:
        for rk in range(1, N_BPE_MERGES + 1):
            pair_i = lambda i: F.struct(  # noqa: E731
                F.element_at(F.col("syms"), i).alias("a"),
                F.element_at(F.col("syms"), i + 1).alias("b"),
            )
            best = (
                vocab.filter(F.size("syms") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.transform(F.sequence(F.lit(1), F.size("syms") - 1), pair_i)
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("total"))
                .orderBy(F.col("total").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()  # sanctioned-collect: argmax row, 1 row/round
            )
            if not best:
                break
            a, b, total = best[0].a, best[0].b, int(best[0].total)
            merges.append((rk, a, b, total))
            # lazy checkpoint: materialized by the NEXT round's argmax —
            # one blocking job per round, lineage truncated (same
            # discipline as the CC loop)
            vocab = _materialize(
                vocab.withColumn("syms", _bpe_apply_merge(F.col("syms"), a, b)),
                reliable=False,
                eager=False,
            )
    finally:
        # try/finally + clear the description too: a mid-loop failure
        # must not leave later unrelated jobs mis-attributed to the group
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", None)
    LAST_BPE_STATS.clear()
    LAST_BPE_STATS.update({"rounds": len(merges), "job_group": _BPE_JOB_GROUP})
    return merges, vocab


def docs_bpe_merges(spark, sf_dir):
    """Learned BPE merge table (rank, pair, frequency) — see _bpe_train
    for the loop and its scale shape. docs_bpe_pair_counts is the loop's
    first iteration."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank long, sym_a string, sym_b string, freq long"
    )


def _duck_bpe_merges_sql(n_merges: int = N_BPE_MERGES) -> str:
    """Unrolled DuckDB twin of the docs_bpe_merges trainer: per round, a
    pair-count CTE, an argmax CTE, and a merge-application CTE (the same
    greedy replace-last fold via list_reduce over a chr(31)-delimited
    accumulator). Known SQL-twin limitation: \\x1f is NOT regex
    whitespace, so a pathological token CONTAINING chr(31) would corrupt
    the accumulator split and diverge from Spark (whose array fold has
    no in-band separator at all) — a false-mismatch risk of the oracle
    only, impossible on the driver's corpora and flagged here so a
    future parity failure on exotic input reads as oracle artifact, not
    engine bug. Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and v{k}/b{k} are each
    referenced twice, so inlining would blow the chain up exponentially
    (2^N scans of the corpus)."""
    parts = [
        r"""WITH w0 AS MATERIALIZED (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents WHERE trim(text) <> '') GROUP BY w
), v0 AS MATERIALIZED (
  SELECT freq, list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)) AS syms
  FROM w0
)"""
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f""", p{k} AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(freq) AS BIGINT) AS total
  FROM (SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
                                           i -> [syms[i], syms[i + 1]])) AS pr
        FROM v{k - 1} WHERE len(syms) >= 2)
  GROUP BY 1, 2
), b{k} AS MATERIALIZED (
  SELECT a, b, total, CAST({k} AS BIGINT) AS rk FROM p{k}
  ORDER BY total DESC, a ASC, b ASC LIMIT 1
), v{k} AS MATERIALIZED (
  SELECT freq,
    CASE WHEN len(syms) < 2 THEN syms
         ELSE string_split(list_reduce(syms, (acc, x) -> CASE
                WHEN string_split(acc, chr(31))[-1] = m.a AND x = m.b
                THEN acc || x
                ELSE acc || chr(31) || x END), chr(31))
    END AS syms
  -- LEFT JOIN ON TRUE, not a cross join: when the corpus runs out of
  -- pairs before round {k} (b{k} empty), m.a/m.b are NULL, the CASE
  -- falls through to identity, and v{k} = v{k-1} — matching the Spark
  -- trainer's early break instead of zeroing the vocab state
  FROM v{k - 1} LEFT JOIN b{k} m ON TRUE
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT rk AS merge_rank, a AS sym_a, b AS sym_b, total AS freq FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + union


DOCS_BPE_MERGES_SQL = _duck_bpe_merges_sql()


def docs_bpe_subword_counts(spark, sf_dir):
    """BPE ENCODE — the learned merge table applied back to the corpus:
    run the trainer (_bpe_train), whose per-round folds applied the
    merge sequence to every word greedily in learned order (exactly how
    a trained BPE tokenizer encodes), and return the top-40 subword
    symbols by corpus frequency. Together with docs_bpe_merges this is
    the full train -> encode tokenizer loop.

    Scale shape: the trainer's FINAL vocabulary state already IS the
    encoded corpus (each round applied its merge to every word), so the
    encode step is ONE explode+agg over that checkpointed state — no
    second trainer run, no second corpus scan, no re-applied fold chain
    (the DuckDB oracle reuses its v{N} CTE the same way); ranking
    pre-reduces via _local_topk before the top-40 window. Encoding NEW
    text against a saved merge table is the same _bpe_char_syms +
    chained _bpe_apply_merge projection the trainer applies per round."""
    _, vocab = _bpe_train(spark, sf_dir)
    counts = (
        vocab.select("freq", F.explode("syms").alias("subword"))
        .groupBy("subword")
        .agg(F.sum("freq").alias("freq"))
    )
    reduced = _local_topk(counts, 40, [], ["freq", "subword"], [False, True])
    w = Window.orderBy(F.col("freq").desc(), F.col("subword").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("subword", "freq", F.col("rk").cast("long").alias("rk"))
    )


def _duck_bpe_subword_sql(n_merges: int = N_BPE_MERGES) -> str:
    """Oracle: the trainer CTE chain's FINAL vocab state v{N} already IS
    the encoded corpus (each v{k} applied merge k to every word), so the
    subword counts are one unnest+agg over it."""
    trainer = _duck_bpe_merges_sql(n_merges)
    head, _union = trainer.split("\nSELECT", 1)
    return (
        head
        + f"""
SELECT subword, freq, row_number() OVER (ORDER BY freq DESC, subword ASC) AS rk
FROM (
  SELECT subword, CAST(sum(freq) AS BIGINT) AS freq
  FROM (SELECT freq, unnest(syms) AS subword FROM v{n_merges})
  GROUP BY subword
) QUALIFY rk <= 40
"""
    )


DOCS_BPE_SUBWORD_SQL = _duck_bpe_subword_sql()


def docs_lm_perplexity(spark, sf_dir):
    """Memoized per (session, sf_dir) and lazily checkpointed: the model
    estimation + scoring runs once per sweep even though two catalog
    entries (this one and docs_quality_lm_filter) consume it — the
    single-process form of writing the scored table once per pipeline
    run. See _lm_perplexity_impl for semantics and scale shape."""
    return _sweep_memo(
        spark,
        sf_dir,
        "lm_perplexity",
        # materialized on the FIRST consumer's action, re-read by the
        # second (memory-and-disk blocks; at 10^12 docs this per-doc
        # table persists to a real table instead)
        lambda: _lm_perplexity_impl(spark, sf_dir).localCheckpoint(eager=False),
    )


def _lm_perplexity_impl(spark, sf_dir):
    """n-gram LM estimation + per-doc perplexity scoring — the workflow
    the reference describes past raw counts (docs/yangzhanku/n-gram/
    language-model.md:166-193: count -> merge -> conditional-probability
    estimation), completed into the standard KenLM-style quality-filter
    signal for training corpora: a bigram model with add-one (Laplace)
    smoothing, self-scored — P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V) —
    and per-doc perplexity exp(-mean log P). High-perplexity docs are
    the gibberish/boilerplate tail a quality filter drops.

    Scale shape: ONE corpus tokenization (lazily checkpointed, two
    consumers); per-doc bigram occurrences reduce to (doc, bigram,
    count) FIRST (map-side combine absorbs in-doc repetition), so the
    model join shuffles the distinct-bigram-per-doc table, never raw
    corpus positions; the model tables themselves are partial+final
    aggs; V broadcast-crosses as a scalar. Docs with <2 tokens have no
    bigrams and are excluded (no defined perplexity). Both engines
    compute sum(k * ln(p)) over identical integer-ratio inputs; floats
    rounded at the boundary."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = (
        d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.groupBy().agg(F.count(F.lit(1)).alias("v"))
    per_doc = (
        toks_df.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    bi = per_doc.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    # enrich the MODEL side first (bi x uni is model-sized), so the
    # corpus-sized per-doc table shuffles exactly once, on (w1, w2).
    # Sandbox A/B: joining uni onto per_doc LAST measures ~0.3-0.5s
    # faster here because the tiny synthetic unigram table broadcasts —
    # but a web corpus's unigram table (10^8+ rows) doesn't broadcast,
    # and then that form re-shuffles the CORPUS-sized doc-bigram table
    # on w1; the model-first shape pays two extra model-sized stages
    # instead, the trade that survives 10^12 docs
    model = bi.join(
        uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1"
    )
    log_p = F.log((F.col("cb") + 1) / (F.col("cu1") + F.col("v")).cast("double"))
    nll = -F.sum(F.col("k") * log_p) / F.sum("k")
    return (
        per_doc.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(nll), 6).alias("perplexity"),
        )
    )


DOCS_LM_PPL_SQL = r"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), uni AS MATERIALIZED (
  SELECT w, count(*) AS cu FROM (SELECT unnest(arr) AS w FROM tok) GROUP BY w
), vsz AS (SELECT count(*) AS v FROM uni),
pd AS MATERIALIZED (
  SELECT doc_id, pr[1] AS w1, pr[2] AS w2, count(*) AS k
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(arr) - 1),
                                             i -> [arr[i], arr[i + 1]])) AS pr
        FROM tok WHERE len(arr) >= 2)
  GROUP BY 1, 2, 3
), bi AS MATERIALIZED (
  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb FROM pd GROUP BY 1, 2
)
SELECT pd.doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       round(-sum(k * ln((cb + 1) / CAST(cu + v AS DOUBLE))) / sum(k), 6) AS avg_nll,
       round(exp(-sum(k * ln((cb + 1) / CAST(cu + v AS DOUBLE))) / sum(k)), 6)
         AS perplexity
FROM pd JOIN bi USING (w1, w2) JOIN uni ON uni.w = pd.w1, vsz
GROUP BY pd.doc_id
"""


def docs_tfidf_top_terms(spark, sf_dir):
    """Per-document TF-IDF top-3 terms (tf * ln(N/df), the classic
    relevance weighting): the keyword table a corpus search/labeling
    pipeline materializes. Scale shape: tf is a (doc, word) partial+final
    agg; df derives from tf's distinct rows (count per word, no second
    corpus scan); the scalar N broadcast-crosses; the per-doc ranking
    pre-reduces to a local top-3 per doc per partition before the
    window, so reducers see <= 3 * n_partitions rows per doc, not the
    doc's full vocabulary. Both engines order by the ROUNDED score
    (6 dp) so the cross-engine ranking cannot diverge on sub-epsilon
    float noise."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TS.tokens(F.col("text"))).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")), 6
            ).alias("score"),
        )
    )
    reduced = _local_topk(
        scored, 3, ["doc_id"], ["doc_id", "score", "word"], [True, False, True]
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "score", F.col("rk").cast("long").alias("rk"))
    )


DOCS_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents WHERE trim(text) <> ''
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, word, round(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS score
  FROM tf JOIN dfreq USING (word) CROSS JOIN n
)
SELECT doc_id, word, score,
       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rk
FROM scored QUALIFY rk <= 3
"""


def docs_source_dedup_stats(spark, sf_dir):
    """Per-source (per-domain, at web scale) corpus health table: doc
    count, exact-duplicate count (docs minus distinct content
    fingerprints), dup rate, mean quality — the table a pipeline ranks
    to find domains worth blocklisting (mirror floods, low-quality
    farms). One scan; fingerprint via the Arrow poly-hash kernel;
    everything else partial+final agg keyed by source."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "source",
        HK.poly_hash_kernel(F.col("text")).alias("fp"),
        TS.quality_score(F.col("text")).alias("q"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
            F.round(F.avg("q"), 6).alias("mean_quality"),
        )
        .select(
            "source",
            "n_docs",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dup_docs"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            "mean_quality",
        )
    )


def _duck_source_dedup_sql() -> str:
    return rf"""
WITH b AS (
  SELECT source, {_duck_poly("text")} AS fp, text,
         length(text) AS n,
         CASE WHEN trim(text) = '' THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
         length(regexp_replace(text, '[^0-9A-Za-z\s一-龥]', '', 'g')) AS n_keep,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace
  FROM documents
), scored AS (
  SELECT source, fp,
         round((
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw > 0 AND n_nospace / CAST(nw AS DOUBLE) BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE (n - n_keep) / CAST(n AS DOUBLE) END) <= 0.2
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw >= 5 THEN 1.0 ELSE 0.0 END)
         ) / 4.0, 4) AS q
  FROM b
)
SELECT source, count(*) AS n_docs,
       count(*) - count(DISTINCT fp) AS n_dup_docs,
       round((count(*) - count(DISTINCT fp)) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
       round(avg(q), 6) AS mean_quality
FROM scored GROUP BY source
"""


# Lift literals for the corpus-scale boilerplate query: the same
# nav/footer chrome the flagship entry() wraps around every document
# (see __spark_entry__.interleave_documents), so this query scores the
# exact block mix the extraction pipeline sees.
BP_NAV = '<div class="nav"><a href="/home">home</a> <a href="/about">about</a></div>'
BP_FOOTER = '<div class="footer">all rights reserved</div>'


def docs_boilerplate_extract(spark, sf_dir):
    """North-rule main-content extraction at corpus scale: lift every
    document into an HTML page (nav + <p>body</p> + footer, the same
    chrome entry() interleaves), then run the Readability-style block
    scorer (text density + class weights - 50x link density,
    operators/boilerplate.py) and keep only positive blocks. Pure
    Catalyst column math over one scan - whole-stage codegen, zero
    shuffle, zero Python: at 100 TB this is a map over the scan. The
    DuckDB oracle re-implements the full scoring pipeline with list
    lambdas, so the keep/drop decision itself is cross-engine checked
    (the seeded-fixture `boilerplate` entry checks reference-constant
    parity; this checks the corpus-scale column expression)."""
    from .operators.boilerplate import block_score, extract_main_text

    d = _t_wide(spark, sf_dir, "documents")
    # NULL text lifts as an empty body (concat would otherwise null the
    # whole page: Spark would emit (NULL, -1) vs the oracle's ('', 1))
    html = F.concat(
        F.lit(BP_NAV + "\n<p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p>\n" + BP_FOOTER),
    )
    blocks = F.split(html, "\n")
    n_kept = F.size(F.filter(blocks, lambda b: block_score(b) > 0))
    return d.select(
        "doc_id",
        extract_main_text(html, []).alias("main_text"),
        n_kept.cast("long").alias("n_blocks_kept"),
    )


# RE2 twin of Java's (?U)\s (Unicode White_Space) — the Spark block
# scorer deliberately uses Unicode whitespace (boilerplate.WS_RE, to
# stay paired with the reference on NBSP/ideographic spaces), while
# RE2's bare \s is ASCII-only; the oracle must spell the class out.
_DUCK_UWS = (
    r"[\t\n\x{000B}\f\r\x{0020}\x{0085}\x{00A0}\x{1680}"
    r"\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"
)


def _duck_boilerplate_sql() -> str:
    tl = lambda x: (
        f"trim(regexp_replace(regexp_replace({x}, '<[^>]*>', '', 'g'), "
        f"'{_DUCK_UWS}', ' ', 'g'))"
    )
    wc = (
        f"(CASE WHEN {tl('x')} = '' THEN 0 "
        f"ELSE len(string_split_regex({tl('x')}, '{_DUCK_UWS}')) END)"
    )
    link_len = (
        "coalesce(list_aggregate(list_transform("
        "regexp_extract_all(x, '(?s)<a\\b[^>]*>(.*?)</a>', 1), "
        f"s -> length({tl('s')})), 'sum'), 0)"
    )
    score = (
        f"({wc} + (CASE WHEN contains(x, '<p>') OR contains(x, 'class=\"content\"') "
        "THEN 25 ELSE 0 END) "
        "- (CASE WHEN contains(x, '<li>') OR "
        "regexp_matches(x, 'class=\"(nav|footer|sidebar)\"') THEN 25 ELSE 0 END) "
        f"- 50.0 * {link_len} / greatest(length({tl('x')}), 1))"
    )
    return f"""
WITH lifted AS (
  SELECT doc_id,
         '{BP_NAV}' || chr(10) || '<p>' || coalesce(text, '') || '</p>' || chr(10) || '{BP_FOOTER}' AS html
  FROM documents
), k AS (
  SELECT doc_id,
         list_filter(string_split(html, chr(10)), x -> {score} > 0) AS kept
  FROM lifted
)
SELECT doc_id,
       trim(regexp_replace(coalesce(array_to_string(list_filter(list_transform(kept, x -> {tl('x')}), t -> t <> ''), ' '), ''), '{_DUCK_UWS}', ' ', 'g')) AS main_text,
       CAST(len(kept) AS BIGINT) AS n_blocks_kept
FROM k
"""


def docs_repetition_stats(spark, sf_dir):
    """Gopher-family repetition filter (the Rae 2021 §A1.1 rules):
    per-doc most-frequent-word mass fraction plus duplicate word-2/3-
    gram fractions, and the keep/drop verdict a quality pipeline
    anti-joins against the corpus. One Arrow kernel pass per document — a pure
    projection over the scan with ZERO shuffle (the per-doc Counter
    lives and dies inside the executor), where the SQL formulation
    needs an explode + two gram self-aggregations. At 100 TB this
    filter is free relative to the scan it rides."""
    d = _t_wide(spark, sf_dir, "documents")
    stats = HK.repetition_stats_df(d, "doc_id", "text")
    keep = (
        (F.col("n_words") >= 5)
        & (F.col("top_word_frac") <= 0.3)
        & (F.col("dup_2gram_frac") <= 0.2)
        & (F.col("dup_3gram_frac") <= 0.18)
    )
    return stats.select(
        "doc_id",
        "n_words",
        "top_word_frac",
        "dup_2gram_frac",
        "dup_3gram_frac",
        keep.cast("long").alias("keep"),
    )


DOCS_REPETITION_SQL = r"""
WITH l AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' OR text IS NULL THEN []
              ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
), g AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1),
              i -> w[i] || chr(31) || w[i + 1]) ELSE [] END AS g2,
         CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
              i -> w[i] || chr(31) || w[i + 1] || chr(31) || w[i + 2]) ELSE [] END AS g3
  FROM l
), tf AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, count(*) AS c
    FROM (SELECT doc_id, unnest(w) AS word FROM g) GROUP BY doc_id, word
  ) GROUP BY doc_id
), s AS (
  SELECT g.doc_id, g.n,
         CASE WHEN g.n = 0 THEN 0.0 ELSE round(tf.topc / CAST(g.n AS DOUBLE), 6) END AS top_word_frac,
         CASE WHEN len(g2) = 0 THEN 0.0
              ELSE round(1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6) END AS dup_2gram_frac,
         CASE WHEN len(g3) = 0 THEN 0.0
              ELSE round(1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6) END AS dup_3gram_frac
  FROM g LEFT JOIN tf ON g.doc_id = tf.doc_id
)
SELECT doc_id, n AS n_words, top_word_frac, dup_2gram_frac, dup_3gram_frac,
       CAST(CASE WHEN n >= 5 AND top_word_frac <= 0.3
                  AND dup_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.18
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
"""


# LM-perplexity acceptance band for the combined quality gate: gibberish
# scores HIGH ppl, templated boilerplate scores very LOW ppl — both tails
# are dropped (the KenLM-filter convention).
LM_PPL_LO = 10.0
LM_PPL_HI = 30.0


def docs_quality_lm_filter(spark, sf_dir):
    """The combined production quality gate — heuristic signals AND the
    LM signal in one decision table: per (predicted language, decision,
    reason) doc counts, where reason is the FIRST failing gate in fixed
    order (short -> low_quality -> no_ppl -> ppl_high -> ppl_low -> ok).
    This is the composition a real corpus pipeline ships: Gopher-style
    heuristics catch structural junk, the LM band catches fluent-looking
    gibberish (high ppl) and templated boilerplate (low ppl) that
    heuristics pass. Scale shape: one corpus pass for the heuristics,
    the LM leg reuses docs_lm_perplexity's reduced-join shape, the
    decision join is doc-keyed, and the output agg is partial+final."""
    d = _t(spark, sf_dir, "documents")
    ppl = docs_lm_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    sig = d.select(
        "doc_id",
        TS.lang_id(F.col("text")).alias("pred_lang"),
        TS.token_count(F.col("text")).alias("nw"),
        TS.quality_score(F.col("text")).alias("quality"),
    )
    reason = (
        F.when(F.col("nw") < 20, "short")
        .when(F.col("quality") < 0.75, "low_quality")
        .when(F.col("perplexity").isNull(), "no_ppl")
        .when(F.col("perplexity") > LM_PPL_HI, "ppl_high")
        .when(F.col("perplexity") < LM_PPL_LO, "ppl_low")
        .otherwise("ok")
    )
    return (
        sig.join(ppl, "doc_id", "left")
        .select(
            "pred_lang",
            F.when(reason == "ok", "keep").otherwise("drop").alias("decision"),
            reason.alias("reason"),
        )
        .groupBy("pred_lang", "decision", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _duck_quality_lm_sql() -> str:
    return rf"""
WITH ppl AS ({DOCS_LM_PPL_SQL}),
sig AS (
  SELECT doc_id, text,
         length(text) AS n,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nw,
         length(regexp_replace(text, '[^0-9A-Za-z\s一-龥]', '', 'g')) AS n_keep,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nospace
  FROM documents
), scored AS (
  SELECT doc_id, {_lang_case_sql()} AS pred_lang, nw,
         round((
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw > 0 AND n_nospace / CAST(nw AS DOUBLE) BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN (CASE WHEN n = 0 THEN 0.0 ELSE (n - n_keep) / CAST(n AS DOUBLE) END) <= 0.2
                 THEN 1.0 ELSE 0.0 END) +
           (CASE WHEN nw >= 5 THEN 1.0 ELSE 0.0 END)
         ) / 4.0, 4) AS quality
  FROM sig
), decided AS (
  SELECT pred_lang,
         CASE WHEN nw < 20 THEN 'short'
              WHEN quality < 0.75 THEN 'low_quality'
              WHEN perplexity IS NULL THEN 'no_ppl'
              WHEN perplexity > {LM_PPL_HI} THEN 'ppl_high'
              WHEN perplexity < {LM_PPL_LO} THEN 'ppl_low'
              ELSE 'ok' END AS reason
  FROM scored LEFT JOIN ppl USING (doc_id)
)
SELECT pred_lang,
       CASE WHEN reason = 'ok' THEN 'keep' ELSE 'drop' END AS decision,
       reason, count(*) AS n
FROM decided GROUP BY 1, 2, 3
"""


DOCS_QUALITY_LM_SQL = _duck_quality_lm_sql()


PQ_M = 8  # subspaces (64-dim embeddings -> 8 dims each)
PQ_SUBDIM = 8
PQ_PLANES = 2  # 2 sign planes -> up to 4 centroids per subspace


def _pq_sq_l2(a, b):
    """In-order squared-L2 fold between two equal-length arrays — both
    engines fold index-ascending from 0.0, so the doubles are
    bit-identical before the boundary round."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def emb_pq_topk(spark, sf_dir):
    """Product quantization ANN (Jegou et al. 2011) — the index family
    that actually fits 10^12 embeddings in memory: split each vector
    into PQ_M subspaces, learn a per-subspace codebook (deterministic
    training: sign-plane LSH initial assignment -> per-bucket mean ->
    PQ_KMEANS_ITERS Lloyd rounds), encode every vector as PQ_M small
    codes, and answer
    queries by asymmetric distance (ADC): a per-query distance TABLE
    against each subspace codebook, then a sum of table lookups per
    encoded vector — no full-vector math at query time. Top-2 neighbors
    for probes vec_id < 30 by ADC distance.

    Scale shape: the codebook build rides group_vector_sums_df partials
    (subvector rows are byte-equal to the input, never an n x d scalar
    explode); the codes table is PQ_M small ints per vector (the 32x
    compression that makes the corpus scannable); the query joins
    broadcast a (queries x M x K) distance table against the codes scan;
    per-query ranking is a bounded partitioned window. Cross-engine
    determinism: centroids, per-code distances, and ADC sums all round
    at 6dp with index-order folds, ties break on (k), (vec_id)."""
    idx = _pq_index(spark, sf_dir)
    subs, codebook, codes = idx["subs"], idx["codebook"], idx["codes"]
    dtab = _pq_dtab(subs, codebook)
    adc = (
        codes.join(F.broadcast(dtab), ["m", "k"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.round(F.sum("qd"), 6).alias("adc"))
    )
    # pre-reduce each partition to its local top-2 per probe BEFORE the
    # rank window (same discipline as emb_cosine_topk): without it each
    # probe's window partition is corpus-sized — the exact straggler
    # wall the catalog-wide plan audit exists to prevent
    adc = _local_topk(adc, 2, ["q_id"], ["adc", "vec_id"], [True, True])
    w_q = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= 2)
        .select("q_id", "vec_id", "adc", F.col("rk").cast("long").alias("rk"))
    )


PQ_KMEANS_ITERS = 2  # deterministic Lloyd refinements after sign-plane init


def _pq_means(gsubs: DataFrame) -> DataFrame:
    """(gk, embedding) -> per-group mean codebook rows (m, k, cent),
    centroids rounded at 6dp (the cross-engine boundary). Rides
    group_vector_sums_df kernel partials — one tiny partial row per
    input partition shuffles, never an n x d scalar explode."""
    partials = V.group_vector_sums_df(gsubs, "gk", "embedding")
    flat = partials.select(
        "gk", F.posexplode(F.arrays_zip("sums", "counts")).alias("dim", "sc")
    )
    cents_flat = flat.groupBy("gk", "dim").agg(
        (F.sum(F.col("sc.sums")) / F.sum(F.col("sc.counts"))).alias("c")
    )
    return (
        cents_flat.groupBy("gk")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            (F.col("gk") / 100).cast("int").alias("m"),
            (F.col("gk") % 100).cast("int").alias("k"),
            F.transform("dc", lambda x: F.round(x["c"], 6)).alias("cent"),
        )
        .localCheckpoint(eager=False)  # consumed by the next assign + dtab
    )


def _pq_assign(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid code per (vec_id, m) subspace row: argmin rounded
    squared-L2 with k-asc tie-break — the SAME rule for Lloyd
    reassignment and final encoding, so training and encode can't
    drift. Keeps `sub` so a training round can re-average.

    Shape: a pure zero-shuffle projection. The subspace's <=K centroids
    ride ONE broadcast array column and the argmin happens inside the
    row (array_sort on struct(dist, k) — lexicographic = dist asc, k-asc
    tie-break), so assignment never explodes to K rows per subvector and
    never shuffles: Lloyd rounds cost one narrow map each, not a
    corpus-sized sort. At 10^12 vectors this is the difference between
    3 extra shuffles per training run and none."""
    cb_by_m = codebook.groupBy("m").agg(
        F.collect_list(F.struct("k", "cent")).alias("cents")
    )
    best = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.round(_pq_sq_l2(F.col("sub"), c["cent"]), 6).alias("dist"),
                c["k"].alias("k"),
            ),
        )
    )[0]
    return (
        subs.join(F.broadcast(cb_by_m), "m")
        .withColumn("best", best)
        .select(
            "vec_id",
            "cell",
            "m",
            F.col("best")["k"].alias("k"),
            "sub",
            F.col("best")["dist"].alias("dist"),
        )
    )


def _pq_index(spark, sf_dir) -> dict:
    """Memoized PQ index build shared by emb_pq_topk and emb_ivfpq_topk
    (the codebook and codes are THE index — training twice per sweep
    would be the BPE double-run mistake again). Training is sign-plane
    LSH init -> PQ_KMEANS_ITERS deterministic Lloyd rounds (reassign by
    rounded L2, re-average; 6dp-rounded centroids keep both engines'
    assignments identical each round; a cluster that loses all members
    simply drops, standard Lloyd). Returns {"subs", "codebook",
    "codes"}; subs and codes carry the vector's coarse cell (= label,
    the same stand-in cells the IVF queries use) so codes form per-cell
    posting lists — the physical layout a real IVF-PQ index partitions
    by."""

    def build():
        e = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
        subs = e.select(
            "vec_id",
            F.col("label").alias("cell"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                    lambda m: F.slice("embedding", m * F.lit(PQ_SUBDIM) + 1, PQ_SUBDIM),
                )
            ).alias("m", "sub"),
        ).localCheckpoint(eager=False)  # consumed by build, encode, probes
        # iteration 0: LSH-bucket init -> per-bucket mean
        codebook = _pq_means(
            subs.select(
                (
                    F.col("m") * F.lit(100)
                    + V.hyperplane_sign_bucket(F.col("sub"), PQ_PLANES)
                )
                .cast("long")
                .alias("gk"),
                F.col("sub").alias("embedding"),
            )
        )
        # Lloyd rounds: reassign -> re-average (bounded, deterministic)
        for _ in range(PQ_KMEANS_ITERS):
            assigned = _pq_assign(subs, codebook)
            codebook = _pq_means(
                assigned.select(
                    (F.col("m") * F.lit(100) + F.col("k")).cast("long").alias("gk"),
                    F.col("sub").alias("embedding"),
                )
            )
        codes = (
            _pq_assign(subs, codebook)
            .select("vec_id", "cell", "m", "k")
            .localCheckpoint(eager=False)  # the corpus-compressed index
        )
        return {"subs": subs, "codebook": codebook, "codes": codes}

    return _sweep_memo(spark, sf_dir, "pq_index", build)


def _pq_dtab(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-query ADC distance table: (q_id, m, k, qd) for probes
    vec_id < 30 — queries x M x K rows, always broadcast-sized."""
    return (
        subs.filter(F.col("vec_id") < 30)
        .select(F.col("vec_id").alias("q_id"), "m", F.col("sub").alias("qsub"))
        .join(F.broadcast(codebook), "m")
        .select(
            "q_id", "m", "k", F.round(_pq_sq_l2(F.col("qsub"), F.col("cent")), 6).alias("qd")
        )
    )


IVFPQ_NPROBE = 2


def emb_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed ANN — the production 10^12-vector index (Jegou et
    al. 2011 IVFADC): coarse-quantizer routing picks each probe's
    IVFPQ_NPROBE nearest cells (the IVF leg, _ivf_assign), and the PQ
    asymmetric-distance scan runs ONLY over the posting lists of probed
    cells — never the full codes table. Top-2 per probe by ADC within
    probed cells, with the winning cell reported.

    Scale shape: the codes table is laid out per-cell (cell rides the
    index rows, the partition key a real deployment buckets by); the
    probe side broadcasts (assigned cells x distance table — queries x
    nprobe x M x K rows), so the only corpus-sized work is the
    broadcast-hash join keyed on (cell, m, k) whose matches are
    1/k_cells * nprobe of the codes scan — with Iceberg cell
    partitioning the same join prunes at the scan (DPP). Codebook and
    codes come from the memoized _pq_index: building emb_pq_topk and
    this entry in one sweep trains once."""
    e = _t(spark, sf_dir, "embeddings")
    idx = _pq_index(spark, sf_dir)
    subs, codebook, codes = idx["subs"], idx["codebook"], idx["codes"]
    assigned = _ivf_assign(e, IVFPQ_NPROBE).select("q_id", "cell")
    # probe-side table: each probe's distance rows replicated onto its
    # probed cells only — (queries x nprobe x M x K), broadcast-sized
    probed_dtab = assigned.join(_pq_dtab(subs, codebook), "q_id")
    adc = (
        codes.join(F.broadcast(probed_dtab), ["cell", "m", "k"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id", "cell")
        .agg(F.round(F.sum("qd"), 6).alias("adc"))
    )
    adc = _local_topk(adc, 2, ["q_id"], ["adc", "vec_id"], [True, True])
    w_q = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        adc.withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= 2)
        .select("q_id", "vec_id", "cell", "adc", F.col("rk").cast("long").alias("rk"))
    )


def _duck_sq_l2(a: str, b: str) -> str:
    return (
        f"round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> (CAST(x AS DOUBLE) - {b}[i]) * "
        f"(CAST(x AS DOUBLE) - {b}[i]))), (p, q) -> p + q), 6)"
    )


def _duck_pq_ctes(with_cell: bool) -> str:
    """Shared PQ CTE chain: subs -> sign-plane init cb0 -> PQ_KMEANS_ITERS
    unrolled Lloyd rounds (a{i} reassign, cb{i} re-average) -> `codebook`
    (alias of the final round) -> `codes` -> `dtab`. Mirrors _pq_index
    exactly, including the 6dp centroid rounding that keeps both engines'
    assignments identical each round."""
    sq = _duck_sq_l2
    # sign-plane bucket of a subvector: Spark's j in 0..PQ_PLANES-1 with
    # 0-based i -> (i+1)(j+1); DuckDB i is 1-based -> i*(j+1)
    planes = []
    for j in range(PQ_PLANES):
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(sub, (x, i) -> CAST(x AS DOUBLE) * "
            f"((CAST((i * {j + 1} * 2654435761) % 1000 AS DOUBLE)) / 499.5 - 1.0))), "
            f"(p, q) -> p + q)"
        )
        planes.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** (PQ_PLANES - 1 - j)} ELSE 0 END)")
    bucket = " + ".join(planes)
    cell_sel = "label AS cell, " if with_cell else ""
    cell_code = "s.cell, " if with_cell else ""

    def mean_cte(name: str, src: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT m, k, list_transform(list_sort(list({{'dim': dim, 'c': c}})), r -> r.c) AS cent
  FROM (
    SELECT m, k, dim, round(avg(v), 6) AS c FROM (
      SELECT m, k, generate_subscripts(sub, 1) AS dim, CAST(unnest(sub) AS DOUBLE) AS v
      FROM {src}
    ) GROUP BY m, k, dim
  ) GROUP BY m, k
)"""

    parts = [
        f"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings
  WHERE embedding IS NOT NULL),
ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
subs AS MATERIALIZED (
  SELECT vec_id, {cell_sel}m,
         embedding[m * {PQ_SUBDIM} + 1 : m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sub
  FROM e CROSS JOIN ms
), bucketed AS (
  SELECT vec_id, m, sub, {bucket} AS k FROM subs
), {mean_cte("cb0", "bucketed")}"""
    ]
    for i in range(1, PQ_KMEANS_ITERS + 1):
        parts.append(
            f""", a{i} AS MATERIALIZED (
  SELECT vec_id, m, k, sub FROM (
    SELECT s.vec_id, s.m, cb.k, s.sub,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {sq("s.sub", "cb.cent")} ASC, cb.k ASC) AS rk
    FROM subs s JOIN cb{i - 1} cb ON cb.m = s.m
  ) WHERE rk = 1
), {mean_cte(f"cb{i}", f"a{i}")}"""
        )
    parts.append(
        f""", codebook AS (SELECT * FROM cb{PQ_KMEANS_ITERS}),
codes AS MATERIALIZED (
  SELECT vec_id, {"cell, " if with_cell else ""}m, k FROM (
    SELECT s.vec_id, {cell_code}s.m, cb.k,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {sq("s.sub", "cb.cent")} ASC, cb.k ASC) AS rk
    FROM subs s JOIN codebook cb ON cb.m = s.m
  ) WHERE rk = 1
), dtab AS MATERIALIZED (
  SELECT s.vec_id AS q_id, s.m, cb.k, {sq("s.sub", "cb.cent")} AS qd
  FROM subs s JOIN codebook cb ON cb.m = s.m
  WHERE s.vec_id < 30
)"""
    )
    return "".join(parts)


def _duck_pq_sql() -> str:
    return f"""
{_duck_pq_ctes(with_cell=False)}, adc AS (
  SELECT d.q_id, c.vec_id, round(sum(d.qd), 6) AS adc
  FROM codes c JOIN dtab d ON d.m = c.m AND d.k = c.k AND c.vec_id != d.q_id
  GROUP BY d.q_id, c.vec_id
)
SELECT q_id, vec_id, adc, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rk
  FROM adc
) WHERE rk <= 2
"""


EMB_PQ_SQL = _duck_pq_sql()


_DUCK_COS = lambda a, b: (  # noqa: E731 — shared cosine fragment
    f"coalesce(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (p, q) -> p + q) "
    f"/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q)) "
    f"* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q))), 6), 0.0)"
)


def _duck_ivfpq_sql(nprobe: int = IVFPQ_NPROBE) -> str:
    """Oracle twin of emb_ivfpq_topk: the shared PQ CTE chain (codes
    carrying the vector's cell) composed with the IVF assignment CTEs,
    ADC restricted to each probe's assigned cells."""
    return f"""
{_duck_pq_ctes(with_cell=True)}, flatc AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM embeddings
), cents_dim AS (
  SELECT label, dim, avg(CAST(v AS DOUBLE)) AS c FROM flatc GROUP BY label, dim
), cents AS (
  SELECT label AS cell, list_transform(list_sort(list({{'dim': dim, 'c': c}})), r -> r.c) AS centroid
  FROM cents_dim GROUP BY label
), probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 30
), cell_scores AS (
  SELECT p.q_id, c.cell, {_DUCK_COS("p.q_emb", "c.centroid")} AS cell_cos
  FROM probes p CROSS JOIN cents c
), assigned AS (
  SELECT q_id, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cell_cos DESC, cell ASC) AS rk
    FROM cell_scores
  ) WHERE rk <= {nprobe}
), probed_dtab AS (
  SELECT a.q_id, a.cell, d.m, d.k, d.qd
  FROM assigned a JOIN dtab d USING (q_id)
), adc AS (
  SELECT p.q_id, c.vec_id, c.cell, round(sum(p.qd), 6) AS adc
  FROM codes c JOIN probed_dtab p
    ON p.cell = c.cell AND p.m = c.m AND p.k = c.k AND c.vec_id != p.q_id
  GROUP BY 1, 2, 3
)
SELECT q_id, vec_id, cell, adc, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, vec_id ASC) AS rk
  FROM adc
) WHERE rk <= 2
"""


EMB_IVFPQ_SQL = _duck_ivfpq_sql()


def emb_scalar_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding corpus (the standard
    4x ANN index compression; Jegou et al.'s SQ baseline): global
    per-dimension [min, max] -> code = floor((v-mn)/(mx-mn)*255 + 0.5),
    reporting each vector's integer code checksum and reconstruction
    MSE. Scale shape: per-partition element-wise min/max partials (one
    row per partition, NOT the n x d posexplode), a #partitions-row
    combine, then the codes in one Arrow pass with the d-row bounds
    table broadcast — two scans, zero wide shuffle."""
    # drop NULL and zero-length vectors: the oracle's unnest produces no
    # dims rows for either, so its GROUP BY drops the vec_id — the
    # Spark side must agree instead of emitting a (0, 0.0) row
    e = _t_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    partials = V.minmax_partials_df(e, "embedding")
    mm = partials.select(
        F.posexplode(F.arrays_zip(F.col("mins"), F.col("maxs"))).alias("dim", "z")
    ).select("dim", F.col("z.mins").alias("mn"), F.col("z.maxs").alias("mx"))
    bounds = (
        mm.groupBy("dim")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mn", "mx"))).alias("z"))
        .select(
            F.transform("z", lambda s: s.mn).alias("mns"),
            F.transform("z", lambda s: s.mx).alias("mxs"),
        )
    )
    joined = e.crossJoin(F.broadcast(bounds))
    out = V.quantize_errors_df(joined, "embedding", "mns", "mxs", "vec_id")
    return out.select("vec_id", "code_sum", F.round("mse", 6).alias("mse"))


EMB_SCALAR_QUANTIZE_SQL = """
WITH dims AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE embedding IS NOT NULL
), mm AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM dims GROUP BY dim
), q AS (
  SELECT vec_id, d.v, mn, mx,
         CASE WHEN mx = mn THEN 0.0
              ELSE floor((d.v - mn) / (mx - mn) * 255 + 0.5) END AS code
  FROM dims d JOIN mm USING (dim)
)
SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
       round(avg(pow(v - (mn + code * (mx - mn) / 255), 2)), 6) AS mse
FROM q GROUP BY vec_id
"""


STRATA_RATES = {"en": 8, "zh": 5, "de": 3}  # keep k of 10 buckets per lang
STRATA_DEFAULT_RATE = 2


def docs_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampler: each language
    keeps k-of-10 hash buckets (en 80%, zh 50%, de 30%, other 20%) via
    the same engine-stable modular bucketing as docs_split_sample — the
    downsampling step that rebalances a web corpus's language mix
    before training. Pure column math + one partial+final agg; the
    per-row verdict never shuffles."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod((F.col("doc_id") % MOD) * 2654435761 % MOD, F.lit(10))
    # (doc_id % MOD) first: the raw product overflows int64 at doc_id
    # >= ~3.5e9 — Spark wraps silently, DuckDB raises; (MOD-1) *
    # 2654435761 stays under 2^63 so both engines agree at any id
    rate = F.lit(STRATA_DEFAULT_RATE)
    for lang, k in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, k).otherwise(rate)
    kept = d.select("lang", (bucket < rate).cast("long").alias("keep"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_kept"),
        F.round(F.sum("keep") / F.count(F.lit(1)), 6).alias("kept_rate"),
    )


DOCS_STRATIFIED_SQL = rf"""
WITH b AS (
  SELECT lang,
         CASE WHEN (((doc_id % {MOD}) * 2654435761) % {MOD}) % 10 <
                   (CASE lang WHEN 'en' THEN 8 WHEN 'zh' THEN 5
                              WHEN 'de' THEN 3 ELSE 2 END)
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
       round(sum(keep) / CAST(count(*) AS DOUBLE), 6) AS kept_rate
FROM b GROUP BY lang
"""


PACK_CTX = 512  # tokens per packed training sequence


def docs_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing (concat-and-chunk): lay every document
    out back-to-back in deterministic doc_id order and cut the stream
    into PACK_CTX-token training sequences, reporting per-chunk document
    coverage — the batch-shaping step between a cleaned corpus and a
    trainer. The global token offset comes from operators/prefix.py's
    two-pass range-partitioned prefix sum, NOT a bare
    Window.orderBy(doc_id) (whose single window partition IS the job at
    10^12 docs); each doc then expands to only the chunks it overlaps
    (sequence explode bounded by doc length / CTX)."""
    from .operators.prefix import with_prefix_sum

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", TS.token_count(F.col("text")).alias("nt")).filter(
        F.col("nt") > 0
    )
    cum = with_prefix_sum(toks, "doc_id", "nt", "cum")
    # integer `div`, NOT float floor((cum-nt)/512.0): float64 division is
    # exact only below 2^53 cumulative tokens (~9e15) — at 10^12 docs a
    # realistic tokens/doc pushes cum past that and chunk boundaries
    # would silently mis-bin. cum/nt are longs and PACK_CTX a constant,
    # so `div` is exact at any scale (operands are nonnegative, so
    # div == floor). The oracle uses DuckDB's integer `//` identically.
    start_chunk = F.expr(f"(cum - nt) div {PACK_CTX}")
    end_chunk = F.expr(f"(cum - 1) div {PACK_CTX}")
    spans = cum.select(
        F.explode(F.sequence(start_chunk, end_chunk)).alias("chunk_id")
    )
    # grand total = the LAST cumulative value — read it off the already
    # checkpointed prefix-sum output instead of re-scanning + re-
    # tokenizing the corpus a second time (at 100 TB the scan is the
    # cost; max() over the checkpoint is a cheap partial+final agg)
    tot = cum.groupBy().agg(F.max("cum").alias("total"))
    return (
        spans.groupBy("chunk_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "chunk_id",
            "n_docs",
            F.least(
                F.lit(PACK_CTX), F.col("total") - F.col("chunk_id") * PACK_CTX
            ).alias("n_tokens"),
        )
    )


DOCS_PACK_SQL = rf"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
  FROM documents
), nz AS (
  SELECT * FROM b WHERE nt > 0
), c AS (
  SELECT doc_id, nt, sum(nt) OVER (ORDER BY doc_id) AS cum FROM nz
), spans AS (
  SELECT unnest(generate_series(CAST((cum - nt) // {PACK_CTX} AS BIGINT),
                                CAST((cum - 1) // {PACK_CTX} AS BIGINT))) AS chunk_id
  FROM c
), tot AS (
  SELECT sum(nt) AS total FROM nz
)
SELECT chunk_id, count(*) AS n_docs,
       CAST(least({PACK_CTX}, total - chunk_id * {PACK_CTX}) AS BIGINT) AS n_tokens
FROM spans, tot GROUP BY chunk_id, total
"""


INCR_MOD = 5  # doc_id % 5 == 0 -> the "incoming" batch (20%)


def docs_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup — the production shape for a recurring
    crawl: an INCOMING batch (a deterministic 20% doc_id slice) checked
    against the COMMITTED corpus (the other 80%) instead of a full-
    corpus self-join. Two layers: (1) exact — the incoming fingerprint
    semi-joined against the distinct committed fingerprint store (at
    scale: a bucketed/Iceberg table keyed by fingerprint, so this join
    co-locates); (2) near — minhash band buckets joined incoming x
    committed (two-sided, so each batch only ever pays
    O(batch x collisions), never the corpus self-join). Verdict
    precedence: exact_dup > near_dup_candidate > new; candidates then
    feed the same exact-Jaccard verification as docs_near_dup_verified.
    Arrow kernels for fingerprints and signatures; the only wide ops
    are the fp semi-join and the band equi-join.

    This query recomputes BOTH sides from the corpus so the DuckDB
    oracle can check it; the production loop persists each batch's
    sketches via operators/incremental.SketchStore (marker-last atomic
    snapshots, same discipline as plans/checkpoint.SnapshotWriter) and
    the next batch joins the committed sketch parquet instead —
    equivalence of the two shapes is pinned by
    tests/test_incremental_store.py."""
    d = _t(spark, sf_dir, "documents")
    is_in = F.col("doc_id") % INCR_MOD == 0

    # ONE fingerprint pass and ONE signature pass over the corpus,
    # lazily checkpointed so the incoming/committed filters below are
    # filters over the kernel output, not re-executions of it (five
    # separate branches would re-scan + re-hash the corpus per branch)
    fp_all = d.select(
        "doc_id", is_in.alias("is_in"), HK.poly_hash_kernel(F.col("text")).alias("fp")
    ).localCheckpoint(eager=False)
    banded_all = (
        _banded_sigs(HK.minhash_signatures_df(d, num_hashes=N_MINHASH, k=3), "doc_id")
        .withColumn("is_in", is_in)
        .localCheckpoint(eager=False)
    )

    incoming = fp_all.filter("is_in").select("doc_id")
    fp_in = fp_all.filter("is_in").select("doc_id", "fp")
    fp_com = fp_all.filter(~F.col("is_in")).select("fp").distinct()
    exact = (
        fp_in.join(fp_com, "fp", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(1))
    )

    banded_in = banded_all.filter("is_in").drop("is_in")
    banded_com = banded_all.filter(~F.col("is_in")).drop("is_in")
    near = (
        banded_in.alias("i")
        .join(banded_com.alias("c"), ["band", "sig"])
        .groupBy(F.col("i.doc_id").alias("doc_id"))
        .agg(F.countDistinct(F.col("c.doc_id")).alias("n_band_matches"))
    )
    verdict = (
        F.when(F.col("is_exact") == 1, "exact_dup")
        .when(F.col("n_band_matches") > 0, "near_dup_candidate")
        .otherwise("new")
    )
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_band_matches"), F.lit(0)).alias("n_band_matches"),
            verdict.alias("verdict"),
        )
    )


def _duck_incremental_sql() -> str:
    return rf"""
WITH {_duck_banded_cte()},
fp AS (
  SELECT doc_id, {_duck_poly("text")} AS fp FROM documents
), inc AS (
  SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0
), exact AS (
  SELECT DISTINCT i.doc_id
  FROM fp i JOIN fp c ON i.fp = c.fp AND c.doc_id % {INCR_MOD} != 0
  WHERE i.doc_id % {INCR_MOD} = 0
), near AS (
  SELECT i.doc_id, count(DISTINCT c.doc_id) AS n
  FROM banded i JOIN banded c
    ON i.band = c.band AND i.sig = c.sig
   AND i.doc_id % {INCR_MOD} = 0 AND c.doc_id % {INCR_MOD} != 0
  GROUP BY i.doc_id
)
SELECT inc.doc_id,
       CAST(coalesce(near.n, 0) AS BIGINT) AS n_band_matches,
       CASE WHEN exact.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN coalesce(near.n, 0) > 0 THEN 'near_dup_candidate'
            ELSE 'new' END AS verdict
FROM inc
LEFT JOIN exact ON inc.doc_id = exact.doc_id
LEFT JOIN near ON inc.doc_id = near.doc_id
"""


# ===========================================================================
# Round 5: SemDeDup — semantic dedup over the embedding column
# ===========================================================================

SEMDEDUP_TAU = 0.4  # same cosine near-dup threshold as emb_near_dup_cosine


def emb_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) — semantic deduplication over the
    embedding column, the stage that removes *meaning-level* duplicates
    exact/MinHash dedup can't see (paraphrases, re-encodes, crops):
    cluster the corpus with the coarse quantizer (per-label centroids —
    the same stand-in cells the IVF/PQ entries use; a production build
    swaps in trained k-means cells), compute pairwise cosine WITHIN
    each cell only, and drop every vector that has a near-duplicate
    (cos >= SEMDEDUP_TAU) ranked ahead of it. Keep-rank = (cosine to
    own cell centroid ASC, vec_id ASC) — the paper keeps the
    least-typical member of each duplicate pair (low centroid
    similarity = more informative outlier), made deterministic with the
    id tie-break. Output: (vec_id, cell, cent_cos, keep) for EVERY
    vector — the decision table a pipeline joins against its corpus.

    Scale shape: the quadratic pair join is per-cell only — SemDeDup's
    own control is growing k with the corpus so cells stay bounded
    (paper: 50k clusters at LAION scale), and the cell equi-join
    shuffles each cell to one task, never all-pairs across the corpus.
    Centroids ride group_vector_sums_df kernel partials and broadcast
    (dictionary-sized, k rows). The drop verdict is a doc-keyed
    left join against the distinct dropped set — no corpus window.
    Reference analog: generate-then-verify candidate discipline of
    trietree_correct.py:153-199, applied to the embedding modality."""
    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e)


def semdedup(e: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """Core SemDeDup decision table over an (vec_id, embedding, label)
    DataFrame — see emb_semdedup for semantics and the scale shape."""
    e = e.filter(F.col("embedding").isNotNull())
    flat = _centroid_per_dim(e)
    cents = (
        flat.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("dc", lambda x: x["c"]).alias("centroid"),
        )
    )
    ranked = (
        e.join(F.broadcast(cents), e["label"] == cents["cell"])
        .select(
            "vec_id",
            "cell",
            "embedding",
            V.cosine_rounded_fast(F.col("embedding"), F.col("centroid"), 6).alias(
                "cent_cos"
            ),
        )
        .localCheckpoint(eager=False)  # consumed by both pair sides + output
    )
    a = ranked.select(
        F.col("vec_id").alias("vec_a"),
        F.col("cell").alias("cell_a"),
        F.col("embedding").alias("emb_a"),
        F.col("cent_cos").alias("cc_a"),
    )
    b = ranked.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("embedding").alias("emb_b"),
        F.col("cent_cos").alias("cc_b"),
    )
    # b "ranked ahead of" a: keep-rank (cent_cos asc, vec_id asc)
    ahead = (F.col("cc_b") < F.col("cc_a")) | (
        (F.col("cc_b") == F.col("cc_a")) & (F.col("vec_b") < F.col("vec_a"))
    )
    dropped = (
        a.join(b, (F.col("cell_a") == F.col("cell_b")) & ahead)
        .withColumn("cos", V.cosine_rounded_fast(F.col("emb_a"), F.col("emb_b"), 6))
        .filter(F.col("cos") >= tau)
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return ranked.join(dropped, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "cent_cos",
        F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
    )


def _duck_semdedup_sql() -> str:
    cos = lambda x, y: (
        f"coalesce(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({x}, (x, i) -> CAST(x AS DOUBLE) * CAST({y}[i] AS DOUBLE))), (p, q) -> p + q) "
        f"/ (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({x}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q)) "
        f"* sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({y}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (p, q) -> p + q))), 6), 0.0)"
    )
    return f"""
WITH flat AS (
  SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
  FROM embeddings
), per_dim AS (
  SELECT label, dim, avg(CAST(v AS DOUBLE)) AS c FROM flat GROUP BY label, dim
), cents AS (
  SELECT label AS cell, list_transform(list_sort(list({{'dim': dim, 'c': c}})), r -> r.c) AS centroid
  FROM per_dim GROUP BY label
), ranked AS (
  SELECT e.vec_id, c.cell, e.embedding, {cos("e.embedding", "c.centroid")} AS cent_cos
  FROM embeddings e JOIN cents c ON e.label = c.cell
  WHERE e.embedding IS NOT NULL
), dropped AS (
  SELECT DISTINCT a.vec_id
  FROM ranked a JOIN ranked b
    ON a.cell = b.cell
   AND (b.cent_cos < a.cent_cos OR (b.cent_cos = a.cent_cos AND b.vec_id < a.vec_id))
  WHERE {cos("a.embedding", "b.embedding")} >= {SEMDEDUP_TAU}
)
SELECT r.vec_id,
       CAST(r.cell AS INTEGER) AS cell,
       r.cent_cos,
       d.vec_id IS NULL AS keep
FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id
"""


EMB_SEMDEDUP_SQL = _duck_semdedup_sql()


# ===========================================================================
# Multilingual mixture rebalancing + CCNet-style segment dedup (round 5)
# ===========================================================================

# Temperature for language up-sampling: p_i ∝ (n_i/N)^ALPHA. 0.3 is the
# published mT5/XLM-R choice — low-resource languages are boosted hard
# while the head language keeps the majority of the budget.
MIXTURE_ALPHA = 0.3


def docs_temperature_mixture(spark, sf_dir):
    """Multilingual temperature-sampling mixture weights (the mT5 /
    XLM-R rebalancing stage every multilingual training pipeline runs
    before sampling a training mix): per language, p_raw = n_docs / N
    and p_sampled ∝ p_raw^α with α=0.3, plus the per-language boost
    factor p_sampled / p_raw a sampler multiplies into its per-doc
    acceptance rate.

    Scale shape: ONE corpus scan into a partial+final agg keyed by
    lang — the result is a languages-sized table (dozens of rows at
    web scale, never corpus-sized), so the α-power, the Σp^α
    normalizer, and the final join are all driver-trivial broadcast
    crosses over that tiny table. Nothing corpus-sized shuffles twice.
    Both engines round to 6 dp after identical double arithmetic
    (count ratio -> pow -> normalize), the same cross-engine float
    discipline as docs_tfidf_top_terms."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TS.tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_docs").alias("n_total"))
    pw = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("p_raw", F.col("n_docs") / F.col("n_total").cast("double"))
        .withColumn("pw", F.pow(F.col("p_raw"), F.lit(MIXTURE_ALPHA)))
    )
    z = pw.agg(F.sum("pw").alias("z"))
    return (
        pw.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round("p_raw", 6).alias("p_raw"),
            F.round(F.col("pw") / F.col("z"), 6).alias("p_sampled"),
            F.round((F.col("pw") / F.col("z")) / F.col("p_raw"), 6).alias("boost"),
        )
    )


DOCS_TEMPERATURE_MIXTURE_SQL = rf"""
WITH per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT sum(n_docs) AS n_total FROM per
), pw AS (
  SELECT lang, n_docs, n_tokens,
         n_docs / CAST(n_total AS DOUBLE) AS p_raw,
         pow(n_docs / CAST(n_total AS DOUBLE), {MIXTURE_ALPHA}) AS pw
  FROM per CROSS JOIN tot
), z AS (
  SELECT sum(pw) AS z FROM pw
)
SELECT lang, n_docs, n_tokens,
       round(p_raw, 6) AS p_raw,
       round(pw / z, 6) AS p_sampled,
       round((pw / z) / p_raw, 6) AS boost
FROM pw CROSS JOIN z
"""


# CCNet-style segment gating: non-overlapping token windows of this
# length; a doc whose duplicated-segment fraction exceeds the max is
# dropped from the training mix.
SEGMENT_LEN = 8
SEGMENT_DUP_FRAC_MAX = 0.5


def docs_segment_dedup(spark, sf_dir):
    """CCNet-style duplicated-segment gating (Wenzek et al.: dedup at
    paragraph granularity, then drop documents that are mostly
    duplicated content): each doc's tokens are chunked into
    non-overlapping SEGMENT_LEN-token segments; a segment is
    *duplicated* if its exact content appears in >= 2 distinct docs;
    a doc is kept iff its duplicated-segment fraction <= 0.5. This is
    the sub-document dedup stage between exact doc dedup (which misses
    partial copies) and MinHash near-dup (which misses small inserted
    boilerplate runs).

    Scale shape: segments shuffle by a 64-bit content fingerprint
    (the Arrow poly-hash kernel; its DuckDB twin `_duck_poly` keeps
    the oracle engine-independent), never by the segment string — at
    web scale the shuffle carries 8 bytes per segment instead of
    ~50-byte text. The segment table feeds two consumers (the df agg
    and the verdict join), so it is localCheckpoint'd — without it
    the tokenize+kernel pipeline computes on both join inputs AND
    each branch evaluates the Arrow UDF twice (the join's implicit
    isnotnull(sh) can't see through ArrowEvalPython: 4 kernel passes
    total, measured 2.5x slower). The verdict join's right side is
    pre-filtered to fingerprints with df >= 2, so unique segments —
    the overwhelming majority at web scale — never enter the join
    build side. Two shuffles on segment data: the segment-df agg
    (map-side combined; hot boilerplate segments collapse to one row
    per partition before the exchange) and the per-doc verdict agg
    keyed by doc_id. No window, no self-join — there is no quadratic
    bucket to flood. Short docs (< SEGMENT_LEN tokens) contribute no
    segments and are kept with dup_frac 0. A fingerprint collision
    can only mark one extra segment duplicated, identically in both
    engines."""
    d = _t_wide(spark, sf_dir, "documents")
    toks = d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
    n_seg = F.floor(F.size("toks") / SEGMENT_LEN).cast("int")
    segs = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= SEGMENT_LEN,
                    F.transform(
                        F.sequence(F.lit(1), n_seg),
                        lambda i: F.array_join(
                            F.slice(F.col("toks"), (i - 1) * SEGMENT_LEN + 1, SEGMENT_LEN),
                            " ",
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("seg"),
        )
        .select("doc_id", HK.poly_hash_kernel(F.col("seg")).alias("sh"))
        .localCheckpoint(eager=False)  # consumed by the df agg + verdict join
    )
    dup_sh = (
        segs.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("sh", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        segs.join(dup_sh, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).cast("long").alias("n_dup_segments"),
        )
    )
    frac = F.col("n_dup_segments") / F.col("n_segments").cast("double")
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_segments"), F.lit(0).cast("long")).alias("n_segments"),
            F.coalesce(F.col("n_dup_segments"), F.lit(0).cast("long")).alias("n_dup_segments"),
            F.round(F.coalesce(frac, F.lit(0.0)), 6).alias("dup_frac"),
            (F.coalesce(frac, F.lit(0.0)) <= F.lit(SEGMENT_DUP_FRAC_MAX)).alias("keep"),
        )
    )


def _duck_segment_dedup_sql() -> str:
    seg_str = (
        f"array_to_string(arr[(i-1)*{SEGMENT_LEN}+1:(i-1)*{SEGMENT_LEN}+{SEGMENT_LEN}], ' ')"
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), segs AS (
  SELECT doc_id,
         unnest(CASE WHEN len(arr) >= {SEGMENT_LEN}
                     THEN list_transform(generate_series(1, len(arr) // {SEGMENT_LEN}),
                                         i -> {_duck_poly(seg_str)})
                     ELSE CAST([] AS BIGINT[]) END) AS sh
  FROM toks
), seg_df AS (
  SELECT sh, count(DISTINCT doc_id) AS df FROM segs GROUP BY sh
), per_doc AS (
  SELECT doc_id,
         count(*) AS n_segments,
         CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments
  FROM segs JOIN seg_df USING (sh) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_segments, 0) AS n_segments,
       coalesce(p.n_dup_segments, 0) AS n_dup_segments,
       round(coalesce(p.n_dup_segments / CAST(p.n_segments AS DOUBLE), 0.0), 6) AS dup_frac,
       coalesce(p.n_dup_segments / CAST(p.n_segments AS DOUBLE), 0.0) <= {SEGMENT_DUP_FRAC_MAX} AS keep
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


DOCS_SEGMENT_DEDUP_SQL = _duck_segment_dedup_sql()


# ===========================================================================
# DSIR importance resampling (round 5)
# ===========================================================================

# Hashed n-gram feature space. Production DSIR uses 10k buckets; 64 keeps
# every bucket populated on the driver's ~33-distinct-token synthetic
# corpora so the smoothed ratios stay informative. The shape is
# bucket-count-independent: the model table is always B rows.
DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"  # target distribution: the English slice
DSIR_K = 50              # Gumbel-top-k sample size


def docs_dsir_sample(spark, sf_dir):
    """DSIR data selection — importance resampling that picks the
    raw-corpus docs most like a target domain, the domain-targeting
    stage of modern pretraining-data pipelines. Published as Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling". Features are hashed word
    uni+bigrams into DSIR_BUCKETS buckets; bag-of-buckets unigram models
    p_target / p_raw are estimated with add-one smoothing; each doc's
    log importance weight is sum over feature OCCURRENCES of
    ln(p_target[f]) - ln(p_raw[f]); the sample is Gumbel-top-k over
    log_w + g (sampling without replacement with prob proportional to
    the importance weight), with the Gumbel noise derived from a
    deterministic per-doc hash so both engines draw the same "random"
    keys: u = (poly_hash(doc_id || '#dsir') + 0.5) / MOD, g = -ln(-ln u).

    Scale shape: ONE corpus tokenization (lazily checkpointed); grams
    are hashed by the Arrow poly-hash kernel right after the explode so
    every shuffle carries int64 bucket ids, never gram strings. The
    model is a B-row table (map-side combine collapses each partition
    to <= B rows before a tiny shuffle), broadcast back for scoring, so
    the corpus-sized feature stream shuffles exactly once, on doc_id,
    with partial aggregation. Selection is orderBy+limit ->
    TakeOrderedAndProject (per-partition top-k merged on the driver),
    never a global window. Both engines sum identical
    integer-ratio logs; doubles rounded at the boundary, rank ties
    broken by doc_id."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = d.select(
        "doc_id", "lang", TS.tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = toks_df.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        F.explode(F.concat(F.col("toks"), bigrams)).alias("gram"),
    ).select(
        "doc_id",
        "is_target",
        (HK.poly_hash_kernel(F.col("gram")) % DSIR_BUCKETS).alias("f"),
        # the feature stream has THREE consumers in one plan (the model
        # agg, the totals agg via crossJoin, and the scoring join);
        # without the lazy checkpoint Catalyst recomputes the gram
        # explode + Arrow hash once per consumer AND the join's
        # null-safety filter re-evaluates the kernel a second time per
        # branch (5 Arrow passes total, measured 2x the runtime) — the
        # same one-materialization-many-readers shape as the LM impl's
        # per_doc table
    ).localCheckpoint(eager=False)
    model = feats.groupBy("f").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("ct"),
        F.count(F.lit(1)).alias("cr"),
        # two consumers (the totals agg and lr_table): B rows, checkpoint
        # so the feats scan runs once, not once per consumer
    ).localCheckpoint(eager=False)
    tot = model.groupBy().agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    log_ratio = F.log(
        (F.col("ct") + 1) / (F.col("tt") + DSIR_BUCKETS).cast("double")
    ) - F.log((F.col("cr") + 1) / (F.col("tr") + DSIR_BUCKETS).cast("double"))
    lr_table = model.crossJoin(F.broadcast(tot)).select("f", log_ratio.alias("lr"))
    scored = (
        feats.join(F.broadcast(lr_table), "f")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("log_w"))
    )
    u = (
        TS.char_poly_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#dsir")))
        + 0.5
    ) / F.lit(float(TS.MOD))
    return (
        scored.select(
            "doc_id",
            F.round("log_w", 6).alias("log_w"),
            F.round(F.col("log_w") - F.log(-F.log(u)), 6).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(DSIR_K)
    )


DOCS_DSIR_SQL = rf"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_target,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), feats AS MATERIALIZED (
  SELECT doc_id, is_target,
         unnest(list_concat(
           list_transform(arr, w -> {_duck_poly('w')} % {DSIR_BUCKETS}),
           CASE WHEN len(arr) >= 2
                THEN list_transform(generate_series(1, len(arr) - 1),
                                    i -> {_duck_poly("arr[i] || ' ' || arr[i+1]")} % {DSIR_BUCKETS})
                ELSE CAST([] AS BIGINT[]) END)) AS f
  FROM tok WHERE len(arr) >= 1
), model AS (
  SELECT f,
         CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         count(*) AS cr
  FROM feats GROUP BY f
), tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM model),
scored AS (
  SELECT doc_id,
         sum(ln((ct + 1) / CAST(tt + {DSIR_BUCKETS} AS DOUBLE))
             - ln((cr + 1) / CAST(tr + {DSIR_BUCKETS} AS DOUBLE))) AS log_w
  FROM feats JOIN model USING (f) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT doc_id,
       round(log_w, 6) AS log_w,
       round(log_w - ln(-ln(({_duck_poly("CAST(doc_id AS VARCHAR) || '#dsir'")} + 0.5)
                           / {float(TS.MOD)})), 6) AS sample_key
FROM scored
ORDER BY sample_key DESC, doc_id
LIMIT {DSIR_K}
"""


# ===========================================================================
# Exact-substring removal (round 5)
# ===========================================================================

EXSUB_N = SHARED_NGRAM_N  # same 10-token evidence width as the pair detector


def docs_exact_substring_removal(spark, sf_dir):
    """Exact-substring dedup with REMOVAL — the completion of
    docs_shared_ngram_pairs, which only detects: Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) removes the duplicated text itself, keeping one
    canonical occurrence. Every EXSUB_N-token gram appearing in >= 2
    distinct docs elects the min doc_id as its canonical owner; in every
    OTHER doc, all token positions covered by any occurrence of a
    duplicated gram are removed (overlapping grams union their spans),
    and the cleaned text is re-joined. The owner keeps its text intact,
    so exactly one copy of each duplicated passage survives corpus-wide.

    Scale shape: positional grams project in-row and hash through the
    Arrow kernel BEFORE any shuffle, so the corpus-sized gram stream is
    (doc_id, pos, int64) rows, never strings. The owner table reduces
    distinct (gh, doc_id) pairs; the coverage join is occurrence ->
    gram-stats on gh — LINEAR in occurrences (no self-join, so unlike
    the pair detector no df cap is needed: a boilerplate gram in a
    million docs costs a million join rows, exactly the rows being
    cleaned). Covered positions fold back per doc (collect_set bounded
    by doc length) and the strip is an in-row indexed filter. Everything
    integer/string — no float parity risk."""
    n = EXSUB_N
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = d.select(
        "doc_id", TS.tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
    ).localCheckpoint(eager=False)
    toks = F.col("toks")
    pos_grams = (
        toks_df.filter(F.size(toks) >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - n + 1),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice(toks, i, n), " ").alias("gram"),
                    ),
                )
            ).alias("pg"),
        )
        .select(
            "doc_id",
            F.col("pg.pos").alias("pos"),
            HK.poly_hash_kernel(F.col("pg.gram")).alias("gh"),
        )
        .localCheckpoint(eager=False)  # two consumers: owner agg + coverage join
    )
    owners = (
        pos_grams.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("owner"))
        .filter(F.col("df") >= 2)
        .select("gh", "owner")
    )
    cov = (
        pos_grams.join(owners, "gh")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("p"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("cov"))
    )
    covc = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    return toks_df.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(covc).cast("long").alias("n_removed"),
        F.array_join(
            F.filter(toks, lambda x, i: ~F.array_contains(covc, i + 1)), " "
        ).alias("cleaned_text"),
    )


def _duck_exsub_sql() -> str:
    n = EXSUB_N
    gram = f"array_to_string(arr[i:i+{n - 1}], ' ')"
    return rf"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), pg AS MATERIALIZED (
  SELECT doc_id, s['pos'] AS pos, s['gh'] AS gh FROM (
    SELECT doc_id, unnest(CASE WHEN len(arr) >= {n}
      THEN list_transform(generate_series(1, len(arr) - {n - 1}),
                          i -> struct_pack(pos := i, gh := {_duck_poly(gram)}))
      ELSE CAST([] AS STRUCT(pos BIGINT, gh BIGINT)[]) END) AS s
    FROM tok)
), owners AS (
  SELECT gh, min(doc_id) AS owner
  FROM (SELECT DISTINCT gh, doc_id FROM pg)
  GROUP BY gh HAVING count(*) >= 2
), covp AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT pg.doc_id, unnest(generate_series(pos, pos + {n - 1})) AS p
    FROM pg JOIN owners USING (gh) WHERE pg.doc_id <> owner)
), cov AS (
  SELECT doc_id, list_sort(list(p)) AS cov FROM covp GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(arr) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(cov), 0) AS BIGINT) AS n_removed,
       coalesce(array_to_string(
         list_filter(list_transform(generate_series(1, len(arr)),
                                    i -> CASE WHEN list_contains(cov, i) THEN NULL
                                              ELSE arr[i] END),
                     x -> x IS NOT NULL), ' '), '') AS cleaned_text
FROM tok t LEFT JOIN cov USING (doc_id)
"""


DOCS_EXSUB_SQL = _duck_exsub_sql()


# ===========================================================================
# C4 line-level cleaning (round 5)
# ===========================================================================

C4_MIN_LINE_WORDS = 5   # C4: "only retained lines that contained at least 5 words"
C4_MIN_SENTENCES = 3    # C4: "discarded any page with fewer than 3 sentences"
C4_TERMINALS = (".", "!", "?", '"')


def docs_c4_clean(spark, sf_dir):
    """C4 cleaning heuristics (Raffel et al. 2020, Colossal Clean
    Crawled Corpus, section 2.2) — the canonical line-level cleaning
    stage between boilerplate extraction and dedup. Per page: keep only
    lines that end in a terminal punctuation mark (. ! ? "), contain at
    least C4_MIN_LINE_WORDS words, and do not mention 'javascript';
    then drop the page entirely if the retained text has fewer than
    C4_MIN_SENTENCES sentences (approximated, as in most
    re-implementations, by terminal-mark count), or if the ORIGINAL
    page contains a curly brace (code) or the phrase 'lorem ipsum'
    (placeholder chrome). Emits the verdict plus the cleaned text, so
    the next stage (dedup) consumes cleaned_text where keep=true.

    Scale shape: pure per-row column arithmetic — higher-order filter
    over the line array plus regexp counts — compiled into one
    WholeStageCodegen projection over the scan, ZERO shuffles, the same
    shape as docs_pii_scrub. Nothing here changes between 500 docs and
    10^12. All string/integer ops: no float parity risk."""
    d = _t(spark, sf_dir, "documents")
    # null text normalizes to '' (both engines), like the extraction path
    text = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(text, "\n")

    def line_kept(l):
        t = F.trim(l)
        n_words = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
        last = F.substring(F.rtrim(l), -1, 1)
        return (
            (n_words >= C4_MIN_LINE_WORDS)
            & last.isin(*C4_TERMINALS)
            & ~F.lower(l).contains("javascript")
        )

    kept = F.filter(lines, line_kept)
    cleaned = F.array_join(kept, "\n")
    n_sent = F.length(F.regexp_replace(cleaned, r"[^.!?]", ""))
    keep = (
        (n_sent >= C4_MIN_SENTENCES)
        & ~text.contains("{")
        & ~F.lower(text).contains("lorem ipsum")
    )
    return d.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sent.cast("long").alias("n_sentences"),
        keep.alias("keep"),
        cleaned.alias("cleaned_text"),
    )


def _duck_c4_sql() -> str:
    terminals = ", ".join(f"'{t}'" for t in C4_TERMINALS)
    kept = rf"""list_filter(string_split(text, chr(10)), l ->
        (CASE WHEN trim(l) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(l), '\s+')) END) >= {C4_MIN_LINE_WORDS}
        AND right(rtrim(l), 1) IN ({terminals})
        AND NOT contains(lower(l), 'javascript'))"""
    return rf"""
WITH nn AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), b AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS lines,
         {kept} AS kept
  FROM nn
), c AS (
  SELECT doc_id, text, lines, kept,
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned
  FROM b
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(length(regexp_replace(cleaned, '[^.!?]', '', 'g')) AS BIGINT) AS n_sentences,
       length(regexp_replace(cleaned, '[^.!?]', '', 'g')) >= {C4_MIN_SENTENCES}
         AND NOT contains(text, '{{')
         AND NOT contains(lower(text), 'lorem ipsum') AS keep,
       cleaned AS cleaned_text
FROM c
"""


DOCS_C4_CLEAN_SQL = _duck_c4_sql()


# ===========================================================================
# Gopher quality rules (round 5)
# ===========================================================================

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2
# the published 8-word presence list (Rae et al. 2021, appendix A)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_BULLETS = ("•", "-", "*")


def docs_gopher_rules(spark, sf_dir):
    """Gopher quality-filter ruleset (Rae et al. 2021, appendix A1.1) —
    the named heuristic gate between C4-style cleaning and dedup,
    completing the C4 / Gopher / CCNet cleaning trio alongside
    docs_c4_clean and docs_segment_dedup (the Gopher REPETITION rules
    live in docs_repetition_stats). Per doc: word count in
    [50, 100k]; mean word length in [3, 10]; '#'/'...' symbol-to-word
    ratio <= 0.1; <= 90% of lines bullet-led and <= 30% ellipsis-ended;
    >= 80% of words containing an ASCII-alphabetic char (Gopher is an
    English-corpus filter — CJK docs fail this rule by design, the
    multilingual path routes through docs_lang_id_counts first); and at
    least 2 distinct members of the published 8-stop-word presence list.

    Scale shape: pure per-row column arithmetic (higher-order aggregate
    / filter over the token and line arrays), one zero-shuffle codegen
    projection like docs_c4_clean. Every ratio is a single int/int
    division — no accumulation-order float risk; doubles rounded at the
    boundary, the keep verdict computed on exact values."""
    d = _t(spark, sf_dir, "documents")
    # null text normalizes to '' (both engines)
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = TS.tokens(text)
    lines = F.split(text, "\n")
    nw = F.size(toks)
    n_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.when(nw > 0, n_chars / nw.cast("double")).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / F.lit(3)
    # Rae et al. gate EACH symbol's ratio separately ("either the hash
    # symbol or the ellipsis"), not their sum
    hash_ratio = F.when(nw > 0, n_hash / nw.cast("double")).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(
        nw > 0, n_ellipsis / nw.cast("double")
    ).otherwise(F.lit(0.0))
    n_lines = F.size(lines)
    bullet_frac = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin(*GOPHER_BULLETS),
        )
    ) / n_lines.cast("double")
    ellipsis_frac = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ) / n_lines.cast("double")
    alpha_frac = F.when(
        nw > 0,
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))) / nw.cast("double"),
    ).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    keep = (
        nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (hash_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (ellipsis_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_frac <= GOPHER_MAX_BULLET_FRAC)
        & (ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (n_stop >= GOPHER_MIN_STOPWORDS)
    )
    return d.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(hash_ratio, 6).alias("hash_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_stop.cast("long").alias("n_stopwords"),
        keep.alias("keep"),
    )


def _duck_gopher_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    bullets = ", ".join(f"'{b}'" for b in GOPHER_BULLETS)
    return rf"""
WITH nn AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), b AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS arr,
         string_split(text, chr(10)) AS lines,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis
  FROM nn
), m AS (
  SELECT doc_id, len(arr) AS nw, len(lines) AS n_lines,
         CASE WHEN len(arr) > 0
              THEN list_sum(list_transform(arr, w -> length(w))) / CAST(len(arr) AS DOUBLE)
              ELSE 0.0 END AS mean_len,
         CASE WHEN len(arr) > 0
              THEN n_hash / CAST(len(arr) AS DOUBLE)
              ELSE 0.0 END AS hash_ratio,
         CASE WHEN len(arr) > 0
              THEN n_ellipsis / CAST(len(arr) AS DOUBLE)
              ELSE 0.0 END AS ellipsis_ratio,
         len(list_filter(lines, l -> left(ltrim(l), 1) IN ({bullets})))
           / CAST(len(lines) AS DOUBLE) AS bullet_frac,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...')
                                     OR ends_with(rtrim(l), '…')))
           / CAST(len(lines) AS DOUBLE) AS ellipsis_frac,
         CASE WHEN len(arr) > 0
              THEN len(list_filter(arr, w -> regexp_matches(w, '[A-Za-z]')))
                   / CAST(len(arr) AS DOUBLE)
              ELSE 0.0 END AS alpha_frac,
         len(list_intersect(list_transform(arr, w -> lower(w)),
                            [{stop_list}])) AS n_stop
  FROM b
)
SELECT doc_id,
       CAST(nw AS BIGINT) AS n_words,
       round(mean_len, 6) AS mean_word_len,
       round(hash_ratio, 6) AS hash_ratio,
       round(ellipsis_ratio, 6) AS ellipsis_ratio,
       round(bullet_frac, 6) AS bullet_frac,
       round(ellipsis_frac, 6) AS ellipsis_frac,
       round(alpha_frac, 6) AS alpha_frac,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         AND mean_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
         AND hash_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
         AND ellipsis_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
         AND bullet_frac <= {GOPHER_MAX_BULLET_FRAC}
         AND ellipsis_frac <= {GOPHER_MAX_ELLIPSIS_FRAC}
         AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
         AND n_stop >= {GOPHER_MIN_STOPWORDS} AS keep
FROM m
"""


DOCS_GOPHER_SQL = _duck_gopher_sql()


# ===========================================================================
# Pipeline funnel (round 5 capstone)
# ===========================================================================

def docs_pipeline_funnel(spark, sf_dir):
    """The training-data funnel: per-gate survivor counts for the four
    cleaning/dedup stages this catalog ships — C4 line cleaning
    (docs_c4_clean), the Gopher ruleset (docs_gopher_rules), exact
    content dedup (min-doc_id canonical per text), and CCNet segment
    gating (docs_segment_dedup) — evaluated INDEPENDENTLY per doc plus
    the intersection, i.e. the report every corpus-construction run
    publishes before training. One row: raw count, per-gate pass
    counts, and the all-gates survivor count.

    Scale shape: composes the gate operators' own plans (each already
    scale-audited); the verdict tables are (doc_id, bool) projections
    joined on doc_id, and the funnel is one partial+final count-if
    aggregate over the joined row — adding a gate adds one join column,
    never a corpus re-scan of this operator's own."""
    d = _t(spark, sf_dir, "documents")
    c4 = docs_c4_clean(spark, sf_dir).select("doc_id", F.col("keep").alias("k_c4"))
    gopher = docs_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("k_gopher")
    )
    # exact gate shuffles the int64 content fingerprint, never the text
    # (the repo-wide discipline; fingerprint-equality is the standard
    # exact-dedup approximation at 10^12 docs)
    fp = d.select(
        "doc_id",
        HK.poly_hash_kernel(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
        # two consumers (groupBy + self-join): hash the corpus once, and
        # keep the join key non-null so NULL-text docs aren't dropped
    ).localCheckpoint(eager=False)
    exact = (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"))
        .join(fp, "fp")
        .select("doc_id", (F.col("doc_id") == F.col("keeper")).alias("k_exact"))
    )
    seg = docs_segment_dedup(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("k_seg")
    )
    joined = (
        d.select("doc_id").join(c4, "doc_id").join(gopher, "doc_id")
        .join(exact, "doc_id").join(seg, "doc_id")
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return joined.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt(F.col("k_c4")).alias("n_pass_c4"),
        cnt(F.col("k_gopher")).alias("n_pass_gopher"),
        cnt(F.col("k_exact")).alias("n_pass_exact"),
        cnt(F.col("k_seg")).alias("n_pass_segment"),
        cnt(
            F.col("k_c4") & F.col("k_gopher") & F.col("k_exact") & F.col("k_seg")
        ).alias("n_pass_all"),
    )


def _duck_funnel_sql() -> str:
    return rf"""
WITH c4 AS MATERIALIZED (
  SELECT doc_id, keep AS k_c4 FROM ({DOCS_C4_CLEAN_SQL})
), gopher AS MATERIALIZED (
  SELECT doc_id, keep AS k_gopher FROM ({DOCS_GOPHER_SQL})
), exact AS MATERIALIZED (
  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY {_duck_poly("coalesce(text, '')")}) AS k_exact
  FROM documents
), seg AS MATERIALIZED (
  SELECT doc_id, keep AS k_seg FROM ({DOCS_SEGMENT_DEDUP_SQL})
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN k_c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_c4,
       CAST(sum(CASE WHEN k_gopher THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_gopher,
       CAST(sum(CASE WHEN k_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_exact,
       CAST(sum(CASE WHEN k_seg THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_segment,
       CAST(sum(CASE WHEN k_c4 AND k_gopher AND k_exact AND k_seg
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
FROM documents JOIN c4 USING (doc_id) JOIN gopher USING (doc_id)
               JOIN exact USING (doc_id) JOIN seg USING (doc_id)
"""


DOCS_PIPELINE_FUNNEL_SQL = _duck_funnel_sql()


# ===========================================================================
# ANN recall evaluation (round 5)
# ===========================================================================

def emb_ann_recall(spark, sf_dir):
    """Recall@2 of the IVF-PQ index against exact squared-L2 ground
    truth — the index-quality report every ANN deployment publishes
    before routing production traffic (recall@k vs the brute-force
    scan, per query and aggregatable). Ground truth is the full-vector
    squared L2 top-2 per probe (the metric ADC approximates), computed
    the emb_cosine_topk way: broadcast probes, stream the corpus,
    pre-reduce each partition to its local top-2, tiny final window.
    The approximate side is emb_ivfpq_topk itself (memoized PQ index:
    evaluating recall in the same sweep trains nothing twice). A probe
    whose true neighbor sits in an unprobed cell or is mis-ranked by
    quantized distances scores below 1.0 — exactly what the report is
    for. On the driver's synthetic corpus the labels (= IVF cells) are
    nearly uncorrelated with L2 proximity (4 of 60 true top-2 neighbors
    share the probe's label at sf0.001), so routing loss dominates and
    mean recall is genuinely low — the clustered-fixture test pins that
    the same operator reports high recall when the cells match the
    metric structure.

    Scale shape: one corpus scan for ground truth (this operator is
    run-once evaluation, not a serving path), all joins probe-set-sized.
    The in-row L2 fold sums in array order on both engines, so the
    rounded distances are bit-identical; recall is an exact small-int
    ratio."""
    e = _t(spark, sf_dir, "embeddings")
    approx = emb_ivfpq_topk(spark, sf_dir).select("q_id", "vec_id")
    probes = e.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("q_emb"),
                F.col("embedding"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    pairs = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", d2.alias("d2"))
    )
    reduced = _local_topk(pairs, 2, ["q_id"], ["d2", "vec_id"], [True, True])
    w = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    exact = (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("q_id", "vec_id")
    )
    hits = (
        exact.join(approx, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        exact.select("q_id").distinct()
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n"), F.lit(0)) / F.lit(2.0), 6).alias(
                "recall_at_2"
            ),
        )
    )


def _duck_ann_recall_sql() -> str:
    return rf"""
WITH approx AS MATERIALIZED (
  SELECT q_id, vec_id FROM ({EMB_IVFPQ_SQL})
), probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 30
), pairs AS (
  SELECT q_id, e.vec_id AS vec_id, {_duck_sq_l2("q_emb", "e.embedding")} AS d2
  FROM embeddings e CROSS JOIN probes WHERE e.vec_id <> q_id
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, vec_id ASC) AS rk
  FROM pairs
), exact AS (
  SELECT q_id, vec_id FROM ranked WHERE rk <= 2
), hits AS (
  SELECT q_id, count(*) AS n FROM exact JOIN approx USING (q_id, vec_id)
  GROUP BY q_id
)
SELECT q.q_id,
       CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       round(coalesce(n, 0) / 2.0, 6) AS recall_at_2
FROM (SELECT DISTINCT q_id FROM exact) q LEFT JOIN hits USING (q_id)
"""


EMB_ANN_RECALL_SQL = _duck_ann_recall_sql()


# ===========================================================================
# Soft dedup, CCNet perplexity buckets, hard-negative mining
# ===========================================================================


def docs_softdedup_weights(spark, sf_dir):
    """Soft dedup: the removal-free alternative to docs_dedup_exact —
    instead of dropping duplicate documents, every copy survives with a
    training sampling weight 1/k (k = number of exact-content copies),
    so a text repeated k times contributes the same expected gradient
    mass as a unique one (the reweight-don't-delete strategy of
    SoftDedup, Xue et al. 2024, applied at doc granularity over the
    exact-commonness signal; swap the grouping key for the
    docs_dup_clusters CC cluster id and the same shape reweights
    near-dup clusters).

    Scale shape: both shuffles key on the 8-byte xxhash64 content
    fingerprint, never the text payload (same discipline as the funnel's
    dedup gate); the count side pre-reduces map-side, and the join back
    is fingerprint->count, i.e. dup-group-sized on one side. No window,
    no corpus-wide sort."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.xxhash64(F.col("text")).alias("fp")
    )
    counts = d.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    return d.join(counts, "fp").select(
        "doc_id",
        "n_copies",
        F.round(F.lit(1.0) / F.col("n_copies"), 6).alias("weight"),
    )


# the oracle needs no hash: commonness is a property of the text value
# itself, so a window partitioned by text is the same multiset of counts
DOCS_SOFTDEDUP_SQL = """
SELECT doc_id,
       CAST(n_copies AS BIGINT) AS n_copies,
       round(1.0 / n_copies, 6) AS weight
FROM (SELECT doc_id, count(*) OVER (PARTITION BY text) AS n_copies
      FROM documents)
"""


def docs_ccnet_bucket(spark, sf_dir):
    """CCNet-style per-language perplexity buckets (Wenzek et al. 2020):
    each language's scored docs split into head / middle / tail at the
    exact perplexity terciles — head is the clean third a curation run
    keeps outright, tail is the candidate-discard third. Consumes the
    memoized docs_lm_perplexity table (the LM estimates+scores once per
    sweep across its three catalog consumers).

    Scale shape: CCNet assigns buckets by comparing each doc against
    per-language THRESHOLDS, not by ranking docs — the thresholds are a
    languages-sized aggregate broadcast back onto the corpus, so there
    is no per-language global sort window (a web corpus has billions of
    docs in one language; production swaps the exact percentile for
    approx_percentile on a sample, same join shape). Deterministic
    parity: thresholds interpolate over the boundary-rounded perplexity
    both engines already agree on (docs_lm_perplexity hash-matches), and
    Spark's exact `percentile` and DuckDB's `quantile_cont` use the same
    p*(n-1) linear-interpolation definition."""
    ppl = docs_lm_perplexity(spark, sf_dir).select("doc_id", "perplexity")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = ppl.join(d, "doc_id")
    thr = scored.groupBy("lang").agg(
        F.percentile(F.col("perplexity"), 1.0 / 3.0).alias("t1"),
        F.percentile(F.col("perplexity"), 2.0 / 3.0).alias("t2"),
    )
    bucket = (
        F.when(F.col("perplexity") <= F.col("t1"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id", "lang", "perplexity", bucket.alias("bucket")
    )


DOCS_CCNET_BUCKET_SQL = rf"""
WITH scored AS MATERIALIZED (
  SELECT p.doc_id, p.perplexity, d.lang
  FROM ({DOCS_LM_PPL_SQL}) p JOIN documents d USING (doc_id)
), thr AS (
  SELECT lang,
         quantile_cont(perplexity, 1.0/3.0) AS t1,
         quantile_cont(perplexity, 2.0/3.0) AS t2
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.perplexity,
       CASE WHEN s.perplexity <= t.t1 THEN 'head'
            WHEN s.perplexity <= t.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN thr t USING (lang)
"""


def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive/retriever training: for each
    probe vector (vec_id < 20), the top-2 most cosine-similar corpus
    vectors whose LABEL DIFFERS from the probe's — the near-miss
    impostors a bi-encoder trains against (dense-retrieval in-batch
    negatives are easy; mined hard negatives are what move recall).

    Same plan discipline as emb_cosine_topk: broadcast the probes,
    stream the corpus once, drop same-label candidates BEFORE scoring
    (the filter is a broadcast-side comparison, so it prunes in the
    scan stage), pre-reduce each partition to its local top-2 per probe
    map-side, final window over the tiny survivor set."""
    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    cands = e.crossJoin(F.broadcast(probes)).filter(
        (F.col("vec_id") != F.col("q_id")) & (F.col("label") != F.col("q_label"))
    )
    scored = cands.select(
        "q_id",
        "vec_id",
        V.cosine_rounded_fast(F.col("q_emb"), F.col("embedding"), 6).alias("cos"),
    )
    reduced = _local_topk(
        scored, 2, ["q_id"], ["q_id", "cos", "vec_id"], [True, False, True]
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("q_id", "vec_id", "cos", F.col("rk").cast("long").alias("rk"))
    )


EMB_HARD_NEG_SQL = """
WITH probes AS (
  SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
  FROM embeddings WHERE vec_id < 20
), scored AS (
  SELECT p.q_id, e.vec_id,
         coalesce(round(
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(p.q_emb, (x, i) -> CAST(x AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
             (a, b) -> a + b)
           / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(p.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
            * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)))
         , 6), 0.0) AS cos
  FROM embeddings e CROSS JOIN probes p
  WHERE e.vec_id != p.q_id AND e.label != p.q_label
)
SELECT q_id, vec_id, cos,
       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk
FROM scored QUALIFY rk <= 2
"""


EPOCH_SEED = "#epoch0"  # bump the suffix to re-deal a new epoch order
EPOCH_SHARDS = 8
# zero-pad widths for the composite range key: MOD < 10^10 and the
# synthetic doc_id space < 10^12, so both paddings are collision-free
_EPOCH_KEY_W = 10
_EPOCH_ID_W = 12


def docs_epoch_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle — the "shuffle the
    corpus once per epoch" step every pretraining run needs between the
    cleaned corpus and the trainer (and the one stage that is trivially
    sequential on one box but a genuine distributed-ordering problem at
    10^12 docs). Each doc draws a seeded pseudo-random key
    poly_hash(doc_id || '#epoch0'); its global position is its rank in
    (key, doc_id) order; shard = (pos-1) % EPOCH_SHARDS deals the
    shuffled stream round-robin into trainer shards.

    Scale shape: rank-in-global-order is NOT a Window.orderBy(key) row
    number (one window partition = the whole corpus); it is
    operators/prefix.py's two-pass range-partitioned prefix sum of 1s —
    range-partition by a collision-free composite key (zero-padded key
    then zero-padded doc_id, so lexicographic == (key, doc_id) numeric
    order), per-partition counts, a #partitions-row exclusive cumsum
    broadcast back, then a partition-local running count. One corpus
    shuffle total, and the shuffle carries only (doc_id, key)."""
    from .operators.prefix import with_prefix_sum

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        HK.poly_hash_kernel(
            F.concat(F.col("doc_id").cast("string"), F.lit(EPOCH_SEED))
        ).alias("shuffle_key"),
    ).withColumn(
        "_skey",
        F.concat(
            F.lpad(F.col("shuffle_key").cast("string"), _EPOCH_KEY_W, "0"),
            F.lpad(F.col("doc_id").cast("string"), _EPOCH_ID_W, "0"),
        ),
    )
    ranked = with_prefix_sum(keyed, "_skey", F.lit(1), "pos")
    return ranked.select(
        "doc_id",
        "shuffle_key",
        "pos",
        ((F.col("pos") - 1) % EPOCH_SHARDS).alias("shard"),
    )


DOCS_EPOCH_SHUFFLE_SQL = rf"""
WITH k AS (
  SELECT doc_id,
         {_duck_poly(f"CAST(doc_id AS VARCHAR) || '{EPOCH_SEED}'")} AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos,
       (row_number() OVER (ORDER BY shuffle_key, doc_id) - 1) % {EPOCH_SHARDS} AS shard
FROM k
"""


BLOOM_M = 1 << 20  # filter bits; sized for ~1% fill at the sandbox SFs
BLOOM_K = 3  # probe positions per fingerprint


def docs_bloom_dedup(spark, sf_dir):
    """Bloom-filter membership pre-filter for incremental exact dedup —
    the constant-space structure that replaces the committed-fingerprint
    semi-join when the committed corpus no longer fits a shuffle: at
    10^12 docs the distinct-fp store is TBs, but a 2^33-bit filter is
    1 GiB and broadcasts. The incoming 20% slice (doc_id % INCR_MOD
    == 0, the same split docs_incremental_dedup uses) probes a filter
    built from the committed 80%: BLOOM_K positions per content
    fingerprint, pos_i = poly_hash(fp || '#b' || i) % BLOOM_M. bloom_hit
    has no false negatives, so the exact-fp verification join runs ONLY
    over the hit docs (candidate-pruned, like every verify stage here).

    Scale shape: the filter is built as a (BLOOM_M/64)-row word table —
    groupBy(pos div 64) + bit_or(1 << pos%64), map-side combinable to
    <= 16k rows per partition — and broadcast to the probe side; the
    probe is a broadcast-join + bitwise AND, zero shuffle of the
    incoming slice. Both engines agree bit-for-bit because a set bit is
    exactly 'position present in the committed position set', which is
    how the DuckDB oracle states it (membership, no bit arithmetic)."""
    d = _t(spark, sf_dir, "documents")
    is_in = F.col("doc_id") % INCR_MOD == 0
    fp_all = d.select(
        "doc_id", is_in.alias("is_in"), HK.poly_hash_kernel(F.col("text")).alias("fp")
    ).localCheckpoint(eager=False)
    # the fp->positions expansion runs on both sides; keep it one shape
    seeds = F.array(*[F.lit(f"#b{i}") for i in range(BLOOM_K)])

    def pos_of(df):
        # explode is a generator — it must sit at the top of a projection,
        # so the seed fan-out and the hash are two selects
        return df.select("doc_id", "fp", F.explode(seeds).alias("_s")).select(
            "doc_id",
            "fp",
            (
                HK.poly_hash_kernel(F.concat(F.col("fp").cast("string"), F.col("_s")))
                % BLOOM_M
            ).alias("pos"),
        )
    words = (
        pos_of(fp_all.filter(~F.col("is_in")))
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    probe = pos_of(fp_all.filter("is_in")).withColumn("w", F.expr("pos div 64"))
    bh = (
        probe.join(F.broadcast(words), "w", "left")
        .withColumn(
            "hit",
            F.coalesce(
                F.expr(
                    "(word & shiftleft(cast(1 as bigint), cast(pos % 64 as int))) != 0"
                ),
                F.lit(False),
            ),
        )
        .groupBy("doc_id", "fp")
        .agg(F.every("hit").alias("bloom_hit"))
    )
    fp_com = fp_all.filter(~F.col("is_in")).select("fp").distinct()
    exact = (
        bh.filter("bloom_hit")
        .join(fp_com, "fp", "left_semi")
        .select("doc_id", F.lit(True).alias("_ex"))
    )
    return (
        bh.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_ex"), F.lit(False)).alias("exact_dup"),
        )
    )


_BLOOM_POS = _duck_poly("CAST(fp AS VARCHAR) || '#b' || CAST(i AS VARCHAR)")

DOCS_BLOOM_SQL = rf"""
WITH fp AS MATERIALIZED (
  SELECT doc_id, doc_id % {INCR_MOD} = 0 AS is_in, {_duck_poly("text")} AS fp
  FROM documents
), pos AS MATERIALIZED (
  SELECT doc_id, is_in, fp, ({_BLOOM_POS}) % {BLOOM_M} AS pos
  FROM fp CROSS JOIN (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS i)
), build AS MATERIALIZED (
  SELECT DISTINCT pos FROM pos WHERE NOT is_in
), bh AS (
  SELECT doc_id, fp, bool_and(pos IN (SELECT pos FROM build)) AS bloom_hit
  FROM pos WHERE is_in GROUP BY doc_id, fp
)
SELECT doc_id, bloom_hit,
       bloom_hit AND fp IN (SELECT fp FROM fp WHERE NOT is_in) AS exact_dup
FROM bh
"""


# ===========================================================================
# Trained quality classifier (Naive Bayes over the seed corpus)
# ===========================================================================

# the "curated seed corpus" sources: the classifier learns which token
# distributions look like these and scores every doc by that likeness —
# the GPT-3/CCNet quality-filter recipe (curated positives vs raw-crawl
# negatives), with the linear fastText-style model instantiated as
# multinomial Naive Bayes so the trained weights are exact integer-ratio
# logs both engines reproduce bit-for-bit
CURATED_SOURCES = ("src0", "src1", "src2")


def docs_quality_classifier(spark, sf_dir):
    """TRAINED quality classifier — the pipeline stage between the
    heuristic gates and the final corpus mix in GPT-3/LLaMA-style
    curation (Brown et al. 2020 §A; CCNet): label a seed split as
    curated (source in CURATED_SOURCES) vs general crawl, fit a linear
    text classifier, then score EVERY doc with its curated-likeness.
    The model is multinomial Naive Bayes with Laplace smoothing — the
    closed-form member of the linear-classifier family fastText
    approximates, chosen because its weights are logs of integer ratios
    (exactly reproducible in the DuckDB oracle, no SGD nondeterminism):

        log_odds(w) = ln((c_pos(w)+1)/(N_pos+V)) - ln((c_neg(w)+1)/(N_neg+V))
        score(doc)  = ln(D_pos/D_neg) + sum_w k_w * log_odds(w)

    Reference analog: the dictionary-driven scoring loops of
    docs/yangzhanku/n-gram/language-model.md (count -> merge ->
    conditional-probability estimation), upgraded from LM self-scoring
    (docs_lm_perplexity) to a supervised two-class token model.

    Scale shape (same discipline as docs_lm_perplexity): ONE corpus
    tokenization; per-doc token counts reduce to (doc_id, w, k) FIRST
    (map-side combine absorbs in-doc repetition); the class-conditional
    counts and totals are model-sized partial+final aggs over that
    reduced table; the trained log-odds table is enriched model-side,
    and the corpus-sized per-doc table shuffles exactly once (on w) to
    pick up its weights; class totals/priors broadcast as 1-row
    crossJoins. Docs with zero tokens have no defined score and are
    excluded (they never reach a token classifier in production — the
    length gate drops them first). Floats are sums of k * ln(integer
    ratio) in both engines, rounded at the boundary; the predicted
    label thresholds the ROUNDED score so the decision is made on the
    value both engines agree on."""
    d = _t_wide(spark, sf_dir, "documents")
    toks_df = (
        d.select(
            "doc_id",
            F.col("source").isin(*CURATED_SOURCES).alias("y"),
            TS.tokens(F.col("text")).alias("toks"),
        )
        .filter(F.size("toks") >= 1)
        .localCheckpoint(eager=False)
    )
    per_doc = (
        toks_df.select("doc_id", "y", F.explode("toks").alias("w"))
        .groupBy("doc_id", "y", "w")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    cw = per_doc.groupBy("w").agg(
        F.sum(F.when(F.col("y"), F.col("k")).otherwise(F.lit(0))).alias("cp"),
        F.sum(F.when(~F.col("y"), F.col("k")).otherwise(F.lit(0))).alias("cn"),
    )
    tot = cw.groupBy().agg(
        F.sum("cp").alias("np"),
        F.sum("cn").alias("nn"),
        F.count(F.lit(1)).alias("v"),
    )
    dc = toks_df.groupBy().agg(
        F.sum(F.when(F.col("y"), 1).otherwise(0)).alias("dp"),
        F.sum(F.when(~F.col("y"), 1).otherwise(0)).alias("dn"),
    )
    log_odds = F.log(
        (F.col("cp") + 1) / (F.col("np") + F.col("v")).cast("double")
    ) - F.log((F.col("cn") + 1) / (F.col("nn") + F.col("v")).cast("double"))
    model = cw.crossJoin(F.broadcast(tot)).select("w", log_odds.alias("lo"))
    # dp/dn are crossJoined constants; first() keeps them out of the key
    prior = F.log(F.first("dp").cast("double") / F.first("dn"))
    score = F.round(prior + F.sum(F.col("k") * F.col("lo")), 6)
    return (
        per_doc.join(model, "w")
        .crossJoin(F.broadcast(dc))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tokens"),
            score.alias("nb_log_odds"),
            (score > 0).alias("pred_curated"),
        )
    )


_QC_CURATED_IN = "('" + "', '".join(CURATED_SOURCES) + "')"

DOCS_QUALITY_CLF_SQL = rf"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, source IN {_QC_CURATED_IN} AS y,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), per_doc AS MATERIALIZED (
  SELECT doc_id, y, w, count(*) AS k
  FROM (SELECT doc_id, y, unnest(arr) AS w FROM tok)
  GROUP BY doc_id, y, w
), cw AS MATERIALIZED (
  SELECT w,
         sum(CASE WHEN y THEN k ELSE 0 END) AS cp,
         sum(CASE WHEN NOT y THEN k ELSE 0 END) AS cn
  FROM per_doc GROUP BY w
), tot AS (
  SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v FROM cw
), dc AS (
  SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS dp,
         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS dn
  FROM (SELECT DISTINCT doc_id, y FROM per_doc)
), model AS MATERIALIZED (
  SELECT w, ln((cp + 1) / CAST(np + v AS DOUBLE))
            - ln((cn + 1) / CAST(nn + v AS DOUBLE)) AS lo
  FROM cw CROSS JOIN tot
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_tokens,
       round(ln(CAST(dp AS DOUBLE) / dn) + sum(k * lo), 6) AS nb_log_odds,
       round(ln(CAST(dp AS DOUBLE) / dn) + sum(k * lo), 6) > 0 AS pred_curated
FROM per_doc JOIN model USING (w) CROSS JOIN dc
GROUP BY doc_id, dp, dn
"""


# ===========================================================================
# Dedup candidate-recall evaluation (LSH vs exact sampled ground truth)
# ===========================================================================

DEDUP_EVAL_MOD = 20  # 1-in-20 deterministic doc sample for the truth scan


def docs_dedup_recall_eval(spark, sf_dir):
    """Recall report for the MinHash-LSH candidate generator against
    EXACT ground truth — the dedup twin of emb_ann_recall, and the
    measurement behind this repo's banding-parameter claims (README:
    "100% recall vs brute-force truth at sf0.1"): before trusting an
    LSH configuration at crawl scale, a pipeline publishes what fraction
    of true near-dup pairs its bands actually surface. Ground truth is
    the exact k=2 hashed-shingle Jaccard >= 0.6 measure (identical to
    docs_near_dup_verified's verification metric, so recall here bounds
    that operator's end-to-end recall too), computed ONE-SIDED over a
    deterministic 1-in-DEDUP_EVAL_MOD doc sample: full all-pairs truth
    is quadratic in the corpus, but sample x corpus is linear, and
    one-sided sampling preserves the pair-level hit rate (every true
    pair touching the sample is tested). Candidates are
    docs_minhash_lsh_pairs restricted to sample-touching pairs.

    Scale shape: run-once evaluation, not a serving path. The sample's
    shingle sets broadcast (set DEDUP_EVAL_MOD so the sample is ~10^3-4
    docs at the target corpus); the corpus streams ONCE through the
    Arrow shingle kernel with the Jaccard computed in the scan stage —
    corpus shingle sets are never shuffled or materialized. The
    candidate side reuses the production LSH pair query. All final
    joins/aggs are truth-sized. Vacuous recall (no true pairs in the
    sample) reports 1.0 in both engines.

    Cap caveat: the candidates come from docs_minhash_lsh_pairs, so any
    band bucket above LSH_BUCKET_CAP (64) contributes only its star pairs
    here, while the DuckDB oracle (_duck_minhash_sql) uses the uncapped
    band join. The two agree only while no bucket exceeds the cap; past
    it, n_cand, n_hits and recall measure the capped generator and the
    oracle diverges."""
    d = _t_wide(spark, sf_dir, "documents")
    is_samp = F.col("doc_id") % DEDUP_EVAL_MOD == 0
    samp = HK.shingle_hash_sets_df(d.filter(is_samp), k=2).select(
        F.col("doc_id").alias("s_id"), F.col("sh").alias("s_sh")
    )
    corpus = HK.shingle_hash_sets_df(d, k=2)
    inter = F.size(F.array_intersect(F.col("s_sh"), F.col("sh")))
    union = F.size(F.col("s_sh")) + F.size(F.col("sh")) - inter
    truth = (
        corpus.crossJoin(F.broadcast(samp))
        .filter(F.col("doc_id") != F.col("s_id"))
        .filter(union > 0)
        .filter(F.round(inter / union.cast("double"), 6) >= 0.6)
        .select(
            F.least("s_id", "doc_id").alias("doc_a"),
            F.greatest("s_id", "doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # two consumers: count + hit join
    )
    cands = (
        docs_minhash_lsh_pairs(spark, sf_dir)
        .filter(
            (F.col("doc_a") % DEDUP_EVAL_MOD == 0)
            | (F.col("doc_b") % DEDUP_EVAL_MOD == 0)
        )
        .localCheckpoint(eager=False)
    )
    hits = truth.join(cands, ["doc_a", "doc_b"], "left_semi")
    n_samp = d.filter(is_samp).groupBy().agg(
        F.count(F.lit(1)).alias("n_sample_docs")
    )
    n_true = truth.groupBy().agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cands.groupBy().agg(F.count(F.lit(1)).alias("n_cand"))
    n_hits = hits.groupBy().agg(F.count(F.lit(1)).alias("n_hits"))
    recall = F.when(
        F.col("n_true") > 0, F.round(F.col("n_hits") / F.col("n_true"), 6)
    ).otherwise(F.lit(1.0))
    return (
        n_samp.crossJoin(n_true)
        .crossJoin(n_cand)
        .crossJoin(n_hits)
        .select("n_sample_docs", "n_true", "n_cand", "n_hits", recall.alias("recall"))
    )


def _duck_dedup_recall_sql() -> str:
    shingle = _duck_shingle_expr(2)
    return f"""
WITH sh AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform({shingle}, s ->
  list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(regexp_split_to_array(s, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * 31 + x) % 1000000007))) AS sh FROM documents),
samp AS (SELECT * FROM sh WHERE doc_id % {DEDUP_EVAL_MOD} = 0),
truth AS MATERIALIZED (
  SELECT DISTINCT least(s.doc_id, c.doc_id) AS doc_a,
                  greatest(s.doc_id, c.doc_id) AS doc_b
  FROM samp s JOIN sh c ON s.doc_id <> c.doc_id
  WHERE len(s.sh) + len(c.sh) - len(list_intersect(s.sh, c.sh)) > 0
    AND round(len(list_intersect(s.sh, c.sh)) /
        CAST(len(s.sh) + len(c.sh) - len(list_intersect(s.sh, c.sh)) AS DOUBLE), 6)
        >= 0.6
),
cands AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_duck_minhash_sql()})
  WHERE doc_a % {DEDUP_EVAL_MOD} = 0 OR doc_b % {DEDUP_EVAL_MOD} = 0
),
hits AS (SELECT doc_a, doc_b FROM truth INTERSECT SELECT doc_a, doc_b FROM cands)
SELECT (SELECT count(*) FROM documents WHERE doc_id % {DEDUP_EVAL_MOD} = 0)
         AS n_sample_docs,
       (SELECT count(*) FROM truth) AS n_true,
       (SELECT count(*) FROM cands) AS n_cand,
       (SELECT count(*) FROM hits) AS n_hits,
       CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN round((SELECT count(*) FROM hits) /
                       CAST((SELECT count(*) FROM truth) AS DOUBLE), 6)
            ELSE 1.0 END AS recall
"""


DOCS_DEDUP_RECALL_SQL = _duck_dedup_recall_sql()


# ===========================================================================
# Per-source doc caps (RefinedWeb-style rebalancing downsample)
# ===========================================================================

SOURCE_CAP = 15  # max docs kept per source (binds at every driver SF)
SOURCE_CAP_SEED = "#srccap0"  # bump to re-deal a new uniform pick


def docs_source_cap_sample(spark, sf_dir):
    """Per-source document caps — the rebalancing downsample between
    dedup and the final mix in RefinedWeb/C4-style curation (Penedo et
    al. 2023 cap pages per domain so no single site dominates the
    corpus): every source keeps at most SOURCE_CAP docs, picked
    uniformly-at-random but DETERMINISTICALLY by ranking each source's
    docs on a seeded content-free hash key (same keying discipline as
    docs_epoch_shuffle — poly_hash(doc_id || seed), so the pick is
    reproducible across runs and engines and independent of input
    order). Complements docs_temperature_mixture: temperature reweights
    sources softly, the cap is the hard ceiling.

    Scale shape: the naive form is a row_number window partitioned by
    source — but a web corpus's largest source has billions of docs, a
    corpus-sized reducer partition. _local_topk pre-reduces each input
    partition to its SOURCE_CAP best (source, key) rows map-side first,
    so the final window ranks <= cap x n_partitions rows per source
    (the same distributive-top-k discipline as the word-frequency and
    cosine rankings). The shuffle carries (doc_id, source, key) only —
    never text."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "source",
        TS.char_poly_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit(SOURCE_CAP_SEED))
        ).alias("pick_key"),
    )
    reduced = _local_topk(
        keyed,
        SOURCE_CAP,
        ["source"],
        ["source", "pick_key", "doc_id"],
        [True, True, True],
    )
    w = Window.partitionBy("source").orderBy(
        F.col("pick_key").asc(), F.col("doc_id").asc()
    )
    return (
        reduced.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


DOCS_SOURCE_CAP_SQL = rf"""
WITH k AS (
  SELECT doc_id, source,
         {_duck_poly(f"CAST(doc_id AS VARCHAR) || '{SOURCE_CAP_SEED}'")} AS pick_key
  FROM documents
)
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY pick_key, doc_id) AS rk
FROM k
QUALIFY rk <= {SOURCE_CAP}
"""


# ===========================================================================
# Kneser-Ney smoothed LM perplexity
# ===========================================================================

KN_DISCOUNT = 0.75  # exact binary fraction: cross-engine doubles stay exact


def docs_lm_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity — the smoothing the
    production LM quality filters actually use (KenLM's default; Heafield
    2011): add-one (docs_lm_perplexity) over-penalizes unseen mass and
    under-weights how PROMISCUOUS a word's contexts are, KN fixes both
    with absolute discounting plus a continuation-probability backoff:

        P_kn(w2|w1) = (c(w1 w2) - D)/c(w1 .)
                      + (D * N1+(w1 .)/c(w1 .)) * N1+(. w2)/N_bi

    (c(w1 .) = bigram tokens with history w1, N1+(w1 .) = distinct
    continuations of w1, N1+(. w2) = distinct histories of w2, N_bi =
    distinct bigram types; self-scored, so every scored bigram has
    c >= 1 and the max(c-D, 0) clamp is never active). Per-doc
    perplexity exp(-mean log P) as in docs_lm_perplexity — the two
    entries differ only in the estimator, so their spread measures the
    smoothing choice itself.

    Scale shape: identical to docs_lm_perplexity — ONE corpus
    tokenization, per-doc bigrams reduce to (doc, w1, w2, k) first, the
    three model tables (history totals, continuation counts, type
    count) are model-sized partial+final aggs, the model enriches FIRST
    and the corpus-sized per-doc table shuffles exactly once (on
    (w1, w2)); N_bi broadcast-crosses as a scalar. D = 0.75 is an exact
    binary fraction, so both engines evaluate ln of identical doubles."""
    d = _t_wide(spark, sf_dir, "documents")
    per_doc = (
        d.select("doc_id", TS.tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("w1"),
                        F.element_at(F.col("toks"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=False)
    )
    bi = per_doc.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    hist = bi.groupBy("w1").agg(
        F.sum("cb").alias("ch"),  # c(w1 .)
        F.count(F.lit(1)).alias("n_cont"),  # N1+(w1 .)
    )
    cont = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("n_hist"))  # N1+(. w2)
    nbi = bi.groupBy().agg(F.count(F.lit(1)).alias("n_bi"))
    model = (
        bi.join(hist, "w1")
        .join(cont, "w2")  # model-sized joins: bigram-type cardinality
    )
    p_kn = (F.col("cb") - F.lit(KN_DISCOUNT)) / F.col("ch") + (
        F.lit(KN_DISCOUNT) * F.col("n_cont") / F.col("ch")
    ) * (F.col("n_hist") / F.col("n_bi").cast("double"))
    nll = -F.sum(F.col("k") * F.log(p_kn)) / F.sum("k")
    return (
        per_doc.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(nbi))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(nll), 6).alias("kn_perplexity"),
        )
    )


DOCS_LM_KN_SQL = rf"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE regexp_split_to_array(trim(text), '\s+') END AS arr
  FROM documents
), per_doc AS MATERIALIZED (
  SELECT doc_id, w1, w2, count(*) AS k
  FROM (
    SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
    FROM tok CROSS JOIN unnest(generate_series(1, len(arr) - 1)) AS t(i)
    WHERE len(arr) >= 2
  )
  GROUP BY doc_id, w1, w2
), bi AS MATERIALIZED (
  SELECT w1, w2, sum(k) AS cb FROM per_doc GROUP BY w1, w2
), hist AS (
  SELECT w1, sum(cb) AS ch, count(*) AS n_cont FROM bi GROUP BY w1
), cont AS (
  SELECT w2, count(*) AS n_hist FROM bi GROUP BY w2
), nbi AS (
  SELECT count(*) AS n_bi FROM bi
), model AS MATERIALIZED (
  SELECT b.w1, b.w2,
         (b.cb - {KN_DISCOUNT}) / h.ch
           + ({KN_DISCOUNT} * h.n_cont / h.ch) * (c.n_hist / CAST(n.n_bi AS DOUBLE))
           AS p_kn
  FROM bi b JOIN hist h USING (w1) JOIN cont c USING (w2) CROSS JOIN nbi n
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       round(-sum(k * ln(p_kn)) / sum(k), 6) AS avg_nll,
       round(exp(-sum(k * ln(p_kn)) / sum(k)), 6) AS kn_perplexity
FROM per_doc JOIN model USING (w1, w2)
GROUP BY doc_id
"""
