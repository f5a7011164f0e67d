"""Driver-contract query catalog: Spark implementation + DuckDB oracle pairs.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
parquet tables (TESTDATA.md).  The transcripts-shaped input required by
BASELINE.json `input_hint` is derived deterministically from `events`
(conv_id = user, turn ordering by ts) so every windowed / as-of / session
operator has a DuckDB-checkable oracle; Arrow-UDF text features are
rows-only here and allclose-verified against the golden pipeline in pytest.

Conventions (driver compare = row-count + schema + column-name-sorted
value hash):
  * every computed column is aliased identically on both sides;
  * money/value SUMs accumulate in exact integer units (cents /
    basis-points via ROUND(x*100) per row, which is exact for the
    2-decimal inputs) and convert to dollars AFTER the sum — plain
    ROUND(SUM(double)) is ulp-unstable between JVM and DuckDB summation
    orders and red-flagged topk_per_group in round 1;
  * other aggregated doubles are ROUND()ed on both sides (4 decimals);
  * rank/window keys order on integer or rounded-stable values only;
  * timestamps leave result sets as epoch-second BIGINTs (`*_ep`) — no
    engine-specific timestamp serialization in the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import textfeats
from ..operators import asof as asof_op
from ..operators import windows as win_op

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

# single source of truth for the word tokenization shared by the corpus
# operators and every f-string-built DuckDB oracle — a drifting copy here
# would silently desynchronize operator from oracle
from ..operators.corpus import WORD_RE  # noqa: E402

STOPWORDS_SQL = "('the','a','of','and','to','in','is','on','for','with')"
STOPWORDS = {"the", "a", "of", "and", "to", "in", "is", "on", "for", "with"}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def transcripts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → transcripts(conv_id, turn_idx, role, text, tool, ts)."""
    return transcripts_from_events(_read(spark, sf_dir, "events"))


def transcripts_from_events(ev: DataFrame, keep_order_col: bool = False) -> DataFrame:
    # project conv_id FIRST, then window on the column: the row_number
    # Exchange then satisfies every downstream conv_id window/as-of
    # distribution (Catalyst reuses hashpartitioning on the same attribute),
    # halving full-data shuffles vs windowing on user_id and aliasing after
    #
    # keep_order_col=True additionally keeps the derivation's sort key
    # `event_id` (UNALIASED — renaming breaks Catalyst's ordering
    # propagation and forces a re-sort): downstream windows ordered by
    # (ts, event_id) — the IDENTICAL permutation as (turn_idx, ts), since
    # turn_idx is the rank of (ts, event_id) — reuse the derivation
    # WindowExec's sort instead of re-sorting the full frame (plan-tested)
    base = ev.select(
        F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("browse"))
        .when(F.col("event_type") == "purchase", F.lit("exec"))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts"),
        F.col("event_id"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
        *(["event_id"] if keep_order_col else []),
    )


TRANSCRIPTS_CTE = """
transcripts AS (
  SELECT 'conv_' || CAST(user_id AS STRING) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         event_type AS role,
         props AS text,
         CASE WHEN event_type = 'click' THEN 'browse'
              WHEN event_type = 'purchase' THEN 'exec' END AS tool,
         ts
  FROM events
)
"""


def profile_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(purchase) → slowly-changing side table (conv_id, ts, purchase_value);
    unique (conv_id, ts) by max-value dedup."""
    return profile_from_events(_read(spark, sf_dir, "events"))


def profile_from_events(ev: DataFrame) -> DataFrame:
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias("conv_id"),
            F.col("ts"),
        )
        .agg(F.round(F.max("value"), 2).alias("purchase_value"))
    )


PROFILE_CTE = """
profile AS (
  SELECT 'conv_' || CAST(user_id AS STRING) AS conv_id,
         ts,
         ROUND(MAX(value), 2) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
)
"""


def _tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, term) regex word tokens, empties dropped."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), WORD_RE)).alias("term")
    ).filter(F.col("term") != "")


TOKENS_CTE = f"""
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '{WORD_RE}')) AS term
  FROM documents
),
tokens AS (SELECT doc_id, term FROM toks WHERE term <> '')
"""

# ---------------------------------------------------------------------------
# queries — relational core (SURVEY.md §2.1-2.2, §2.5, §2.8)
# ---------------------------------------------------------------------------


def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P3/P10: pushdown-able scan + filter + projection."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45))
        .select(
            "l_orderkey",
            "l_partkey",
            F.round("l_extendedprice", 2).alias("price2"),
        )
    )


SQL_SCAN_FILTER_PROJECT = """
SELECT l_orderkey, l_partkey, ROUND(l_extendedprice, 2) AS price2
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
"""


def q_union_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/X3 + P5: two labeled scans unioned (bad=+1, good=-1), the
    load_fuman_gvb shape (fuman_base.py:135-163)."""
    o = _read(spark, sf_dir, "orders")
    bad = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.lit(1).cast("int").alias("target")
    )
    good = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.lit(-1).cast("int").alias("target")
    )
    return bad.unionByName(good)


SQL_UNION_LABELED = """
SELECT o_orderkey, CAST(1 AS INTEGER) AS target FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, CAST(-1 AS INTEGER) AS target FROM orders WHERE o_orderstatus = 'O'
"""


def q_target_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 (fuman_gvb_target, fuman_base.py:60-66): value<100 → -1,
    100<=v<300 → +1, else 0 (the reference raises; non-null for hash stability)."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("value") < 100, -1)
        .when((F.col("value") >= 100) & (F.col("value") < 300), 1)
        .otherwise(F.lit(0))
        .cast("int")
        .alias("target"),
    )


SQL_TARGET_DERIVATION = """
SELECT event_id,
       CAST(CASE WHEN value < 100 THEN -1
                 WHEN value >= 100 AND value < 300 THEN 1
                 ELSE 0 END AS INTEGER) AS target
FROM events
"""


def q_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/corpus-level aggregation (TPC-H Q1 shape): map-side partial aggs.

    Money sums accumulate in exact integer 1e-4-dollar units (order-free),
    then convert to dollars — both engines round the SAME double, so the
    ROUND(SUM(double)) summation-order hazard cannot flip the hash.
    """
    li = _read(spark, sf_dir, "lineitem")
    ext_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_bp = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(ext_c * (F.lit(100) - disc_bp)) / 10000.0, 2
            ).alias("revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
    )


SQL_GROUPBY_STATS = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0, 2) AS revenue,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (dimension attach): broadcast small dims customer+nation onto orders."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact integer-cent sum → same double on both engines (no
            # summation-order ulp in the hash)
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")) / 100.0, 2
            ).alias("total"),
        )
    )


SQL_BROADCAST_JOIN_AGG = """
SELECT n_name, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_topk_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 vocabulary fit logic with a SQL-expressible tokenizer: doc-freq
    filter (min_df=5) + top-50 by (tf desc, term asc) — the reference's
    min_df/max_features semantics with our deterministic tie-break."""
    toks = _tokens_df(spark, sf_dir)
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed top-k,
    # partial per partition) — NOT a single-partition global Window over all
    # post-min_df terms; rank is assigned to the <=50 bounded survivors by
    # the distributed zipWithIndex (no WindowExec single-partition fallback)
    from ..operators.vectorize import with_sorted_index

    top = stats.filter(F.col("df") >= 5).orderBy(F.col("tf").desc(), "term").limit(50)
    ranked = with_sorted_index(
        top, (F.col("tf").desc(), F.col("term")), "rank", base=1, num_partitions=1
    )
    return ranked.select("term", "tf", "df", "rank")


SQL_TOPK_VOCAB = f"""
WITH {TOKENS_CTE.strip().lstrip()}
, stats AS (
  SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM tokens GROUP BY term
)
SELECT term, tf, df,
       CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS INTEGER) AS rank
FROM stats WHERE df >= 5
QUALIFY rank <= 50
"""


# ---------------------------------------------------------------------------
# windowed / ordered operators on derived transcripts (SURVEY.md §2.7)
# ---------------------------------------------------------------------------


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    out = win_op.with_lag_lead(t, cols=("text",), k=1)
    return out.select(
        "conv_id",
        "turn_idx",
        "text",
        "prev_text",
        "next_text",
        F.col("ts").cast("timestamp").cast("long").alias("ts_ep"),
    )


SQL_LAG_LEAD = f"""
WITH {TRANSCRIPTS_CTE.strip()}
SELECT conv_id, turn_idx, text,
       LAG(text, 1) OVER w AS prev_text,
       LEAD(text, 1) OVER w AS next_text,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_ep
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
"""


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    return win_op.with_backfill(t, col="tool").select(
        "conv_id", "turn_idx", "tool", "tool_ffill"
    )


SQL_BACKFILL = f"""
WITH {TRANSCRIPTS_CTE.strip()}
SELECT conv_id, turn_idx, tool,
       LAST_VALUE(tool IGNORE NULLS) OVER (
         PARTITION BY conv_id ORDER BY turn_idx, ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tool_ffill
FROM transcripts
"""


def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    w = win_op.conv_window().rowsBetween(-3, 0)
    return t.select(
        "conv_id",
        "turn_idx",
        F.count(F.lit(1)).over(w).alias("turns_last3"),
        F.round(F.avg(F.length("text")).over(w), 4).alias("avg_len_last3"),
    )


SQL_ROLLING = f"""
WITH {TRANSCRIPTS_CTE.strip()}
SELECT conv_id, turn_idx,
       COUNT(*) OVER w AS turns_last3,
       ROUND(AVG(LENGTH(text)) OVER w, 4) AS avg_len_last3
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_df(spark, sf_dir)
    return win_op.with_session(t, gap_s=1800).select(
        "conv_id", "turn_idx", "is_session_start", "session_seq", "session_id"
    )


SQL_SESSIONIZE = f"""
WITH {TRANSCRIPTS_CTE.strip()},
marked AS (
  SELECT conv_id, turn_idx, ts,
         CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts, 1) OVER w)) > 1800
                OR LAG(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS is_session_start
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
)
SELECT conv_id, turn_idx, CAST(is_session_start AS INTEGER) AS is_session_start,
       CAST(SUM(is_session_start) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq,
       conv_id || '#' || CAST(SUM(is_session_start) OVER (PARTITION BY conv_id
         ORDER BY turn_idx, ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS STRING) AS session_id
FROM marked
"""


def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping on (conv_id, session_seq) — NOT the derived session_id
    string — lets Catalyst satisfy the aggregation from the sessionize
    window's existing hashpartitioning(conv_id) Exchange (grouping keys
    prefixed by conv_id ⇒ no second full-data shuffle); session_id is
    concatenated after the agg."""
    t = transcripts_df(spark, sf_dir)
    s = win_op.with_session(t, gap_s=1800)
    return (
        s.groupBy("conv_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            (
                F.max(F.col("ts").cast("timestamp").cast("long"))
                - F.min(F.col("ts").cast("timestamp").cast("long"))
            ).alias("duration_s"),
            F.countDistinct("role").alias("n_roles"),
        )
        .select(
            F.concat(F.col("conv_id"), F.lit("#"), F.col("session_seq").cast("string")).alias(
                "session_id"
            ),
            "n_turns",
            "duration_s",
            "n_roles",
        )
    )


SQL_SESSION_AGG = f"""
WITH {TRANSCRIPTS_CTE.strip()},
marked AS (
  SELECT *, CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts, 1) OVER w)) > 1800
                   OR LAG(ts, 1) OVER w IS NULL THEN 1 ELSE 0 END AS st
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
),
sess AS (
  SELECT *, conv_id || '#' || CAST(SUM(st) OVER (PARTITION BY conv_id
    ORDER BY turn_idx, ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS STRING) AS session_id
  FROM marked
)
SELECT session_id, COUNT(*) AS n_turns,
       MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) - MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS duration_s,
       COUNT(DISTINCT role) AS n_roles
FROM sess GROUP BY session_id
"""


def q_rolling_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 time-based rolling window: count + avg over the trailing hour
    (RANGE frame on epoch seconds, not row counts)."""
    t = transcripts_df(spark, sf_dir)
    ep = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("conv_id")
        .orderBy(ep)
        .rangeBetween(-3600, 0)
    )
    return t.select(
        "conv_id",
        "turn_idx",
        F.count(F.lit(1)).over(w).alias("turns_last_hour"),
        F.round(F.avg(F.length("text")).over(w), 4).alias("avg_len_last_hour"),
    )


SQL_ROLLING_TIME = f"""
WITH {TRANSCRIPTS_CTE.strip()}
SELECT conv_id, turn_idx,
       COUNT(*) OVER w AS turns_last_hour,
       ROUND(AVG(LENGTH(text)) OVER w, 4) AS avg_len_last_hour
FROM transcripts
WINDOW w AS (PARTITION BY conv_id ORDER BY FLOOR(epoch(ts))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup totals (engine breadth beyond the reference)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty",
            "n",
        )
    )


SQL_ROLLUP_AGG = """
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per supplier (window rank pattern).

    Revenue is summed in EXACT integer units (1e-4 dollars: cents x
    basis-point discount complement) so the hash and the rank key are
    engine-stable — ROUND(SUM(double)) is ulp-unstable between JVM and
    DuckDB summation orders (the round-1 red oracle row).
    """
    li = _read(spark, sf_dir, "lineitem")
    ext_c = F.round(F.col("l_extendedprice") * 100).cast("bigint")  # exact cents
    disc_bp = F.round(F.col("l_discount") * 100).cast("bigint")  # exact percent
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(ext_c * (F.lit(100) - disc_bp)).alias("revenue_e4")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("revenue_e4").desc(), "l_partkey")
    return rev.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= 3
    )


SQL_TOPK_PER_GROUP = """
WITH rev AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
  FROM lineitem GROUP BY l_suppkey, l_partkey
)
SELECT l_suppkey, l_partkey, revenue_e4,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY revenue_e4 DESC, l_partkey) AS INTEGER) AS rank
FROM rev QUALIFY rank <= 3
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.min("value"), 2).alias("vmin"),
        F.round(F.max("value"), 2).alias("vmax"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(MIN(value), 2) AS vmin,
       ROUND(MAX(value), 2) AS vmax
FROM events GROUP BY event_type
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: point-in-time purchase value at each turn; DuckDB ASOF JOIN oracle."""
    t = transcripts_df(spark, sf_dir)
    p = profile_df(spark, sf_dir)
    out = asof_op.asof_join(t, p, on="ts", by="conv_id", right_ts_alias="profile_ts")
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("ts").cast("timestamp").cast("long").alias("ts_ep"),
        F.col("profile_ts").cast("timestamp").cast("long").alias("profile_ts_ep"),
        "purchase_value",
    )


SQL_ASOF_JOIN = f"""
WITH {TRANSCRIPTS_CTE.strip()},
{PROFILE_CTE.strip()}
SELECT t.conv_id, t.turn_idx,
       CAST(FLOOR(epoch(t.ts)) AS BIGINT) AS ts_ep,
       CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS profile_ts_ep,
       p.purchase_value
FROM transcripts t
ASOF LEFT JOIN profile p ON t.conv_id = p.conv_id AND t.ts >= p.ts
"""


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with staleness bound: matches older than 3600s are nulled WHOLE
    (the struct-fill guarantee — profile_ts and purchase_value null
    together).  DuckDB oracle: ASOF JOIN + CASE on the same staleness cut
    (as-of tolerance semantics: a too-old match is dropped, never
    replaced by an older or newer row)."""
    t = transcripts_df(spark, sf_dir)
    p = profile_df(spark, sf_dir)
    out = asof_op.asof_join(
        t, p, on="ts", by="conv_id", right_ts_alias="profile_ts", tolerance_s=3600
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("ts").cast("timestamp").cast("long").alias("ts_ep"),
        F.col("profile_ts").cast("timestamp").cast("long").alias("profile_ts_ep"),
        "purchase_value",
    )


SQL_ASOF_TOLERANCE = f"""
WITH {TRANSCRIPTS_CTE.strip()},
{PROFILE_CTE.strip()},
matched AS (
  SELECT t.conv_id, t.turn_idx,
         CAST(FLOOR(epoch(t.ts)) AS BIGINT) AS ts_ep,
         CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS profile_ts_ep,
         p.purchase_value
  FROM transcripts t
  ASOF LEFT JOIN profile p ON t.conv_id = p.conv_id AND t.ts >= p.ts
)
SELECT conv_id, turn_idx, ts_ep,
       CASE WHEN ts_ep - profile_ts_ep <= 3600 THEN profile_ts_ep END AS profile_ts_ep,
       CASE WHEN ts_ep - profile_ts_ep <= 3600 THEN purchase_value END AS purchase_value
FROM matched
"""


# ---------------------------------------------------------------------------
# dedup / text-analysis / splits / similarity (training-data pipeline ops)
# ---------------------------------------------------------------------------


def q_decode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P8/P9 decode ops (get_gender / get_age / to_binary_categorical,
    fuman_base.py:17-37) over synthetic raw codes derived from events."""
    ev = _read(spark, sf_dir, "events")
    raw_gender = (F.col("user_id") % 4).cast("int")
    birthyear = (1950 + F.col("user_id") % 60).cast("int")
    sentinel = F.when(F.col("user_id") % 11 == 0, 0).otherwise(birthyear)
    return ev.select(
        "event_id",
        F.when(raw_gender == 1, "male")
        .when(raw_gender == 2, "female")
        .otherwise("unk")
        .alias("gender"),
        F.when(sentinel == 0, 0).otherwise(F.lit(2016) - sentinel).alias("age"),
        F.when(F.col("value") > 100, "True").otherwise("False").alias("hasproposal"),
    )


SQL_DECODE_PROFILE = """
SELECT event_id,
       CASE WHEN user_id % 4 = 1 THEN 'male'
            WHEN user_id % 4 = 2 THEN 'female' ELSE 'unk' END AS gender,
       CASE WHEN user_id % 11 = 0 THEN 0
            ELSE 2016 - CAST(1950 + user_id % 60 AS INTEGER) END AS age,
       CASE WHEN value > 100 THEN 'True' ELSE 'False' END AS hasproposal
FROM events
"""


def q_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 LabelEncoder parity: code = rank in sorted distinct values."""
    from ..operators import encode

    ev = _read(spark, sf_dir, "events")
    return encode.label_encode(ev, "event_type").select(
        "event_id", "event_type", "event_type_code"
    )


SQL_LABEL_ENCODE = """
WITH dict AS (
  SELECT event_type,
         CAST(DENSE_RANK() OVER (ORDER BY event_type) - 1 AS INTEGER) AS event_type_code
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_id, e.event_type, d.event_type_code
FROM events e JOIN dict d USING (event_type)
"""


def q_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 one-hot with 'col=value' alpha-sorted column names."""
    from ..operators import encode

    ev = _read(spark, sf_dir, "events")
    values = ["click", "error", "purchase", "signup", "view"]
    return encode.one_hot(ev, "event_type", values=values).select(
        "event_id", *[f"`event_type={v}`" for v in values]
    )


SQL_ONE_HOT = """
SELECT event_id,
       CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS INTEGER) AS "event_type=click",
       CAST(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS INTEGER) AS "event_type=error",
       CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS INTEGER) AS "event_type=purchase",
       CAST(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS INTEGER) AS "event_type=signup",
       CAST(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS INTEGER) AS "event_type=view"
FROM events
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props payload column."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
"""


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event value totals per user bucketed by event_type columns.

    Totals sum exact integer cents (value is 2-decimal) — hash-stable."""
    ev = _read(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = (
        ev.withColumn("__cents", cents)
        .groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.round(F.sum("__cents") / 100.0, 2))
    )
    return out.select(
        "user_bucket",
        *[F.col(c).alias(f"v_{c}") for c in ["click", "view", "purchase", "signup", "error"]],
    )


SQL_PIVOT = """
SELECT user_id % 10 AS user_bucket,
       ROUND(CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v_click,
       ROUND(CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v_view,
       ROUND(CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v_purchase,
       ROUND(CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v_signup,
       ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(ROUND(value * 100) AS BIGINT) END) AS BIGINT) / 100.0, 2) AS v_error
FROM events GROUP BY 1
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with ALL markers (exact integer-cent sums)."""
    ev = _read(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 5).cast("string")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.withColumn("__cents", cents)
        .cube(F.col("event_type"), bucket.alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("__cents") / 100.0, 2).alias("total"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "n",
            "total",
        )
    )


SQL_CUBE_AGG = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(user_id % 5 AS STRING), 'ALL') AS user_bucket,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total
FROM events GROUP BY CUBE (event_type, CAST(user_id % 5 AS STRING))
"""


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS as left-semi and left-anti joins."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", F.lit("has_orders").alias("kind")
    )
    without = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("kind")
    )
    return with_orders.unionByName(without)


SQL_SEMI_ANTI_JOIN = """
SELECT c_custkey, 'has_orders' AS kind FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, 'no_orders' AS kind FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation pattern with a hard correctness gate: two-phase
    salted aggregation (groupBy (key, salt) partial → groupBy key final)
    must be bit-identical to the plain single-phase GROUP BY the oracle
    runs.  Exact integer-cent partials make the equality exact, not
    approximate — the salting never changes results, only the shuffle
    fan-out under a mega-key (operators/skew.py)."""
    ev = _read(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    salted = ev.withColumn("__salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
    partial = salted.groupBy("user_id", "__salt").agg(
        F.sum(cents).alias("c"), F.count(F.lit(1)).alias("n")
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.round(F.sum("c") / 100.0, 2).alias("total"),
            F.sum("n").alias("n_events"),
        )
    )


SQL_SALTED_AGG = """
SELECT user_id,
       ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS total,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
"""


def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing with an oracle: treat content as an opaque
    binary payload (functions/multimodal.py design) and extract typed
    metadata JVM-side — byte length (≠ char length for multibyte), a
    leading-byte sniff, and a binary equality-class key (md5)."""
    docs = _read(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(payload).alias("content_key"),
    )


SQL_BINARY_META = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS content_key
FROM documents
"""


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table over documents (functions/multimodal.py
    MEDIA_SCHEMA shape): content = the raw UTF-8 payload as opaque binary,
    kind cycles image/audio/video by id, metadata a sibling struct.  Exact
    byte-copies injected at +1M ids for every doc_id % 7 == 0 so the digest
    dedup has real work (the base corpus texts are all-distinct at small
    SF)."""
    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
    )
    copies = media.filter(F.col("media_id") % 7 == 0).withColumn(
        "media_id", F.col("media_id") + 1_000_000
    )
    return media.unionByName(copies)


def q_media_digest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media exact dedup on the raw bytes (multimodal.media_digest_dedup):
    one group per content digest, survivor = min media_id.  The shuffle
    key is the JVM-side md5 of the binary column — blobs never move."""
    from ..functions import multimodal

    return multimodal.media_digest_dedup(_media_table(spark, sf_dir))


SQL_MEDIA_DIGEST_DEDUP = """
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS media_id, text FROM documents WHERE doc_id % 7 = 0
)
SELECT md5(text) AS digest, MIN(media_id) AS keep_id, COUNT(*) AS n_copies
FROM media GROUP BY md5(text)
"""


def q_media_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual media near-dup over a persisted feature store
    (multimodal.media_embedding_neardup → hyperplane-blocked cosine pairs):
    image-kind media rows (vec_id % 3 == 0, mirroring _media_table's kind
    cycle) carry feature vectors; exact-copy media injected at +1M ids.
    Oracle: brute-force cosine >= 0.999 over the same filtered set — at
    that threshold blocking recall is 1 (see q_embedding_neardup)."""
    from ..functions import multimodal

    emb = _read(spark, sf_dir, "embeddings")
    feats = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("media_id"), F.col("embedding").alias("features")
    )
    copies = feats.filter(F.col("media_id") % 10 == 0).withColumn(
        "media_id", F.col("media_id") + 1_000_000
    )
    return multimodal.media_embedding_neardup(
        feats.unionByName(copies), threshold=0.999, n_planes=12
    )


SQL_MEDIA_EMBEDDING_NEARDUP = """
WITH feats AS (
  SELECT vec_id AS media_id, CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id + 1000000 AS media_id, CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings WHERE vec_id % 3 = 0 AND vec_id % 10 = 0
)
SELECT a.media_id AS doc_id, b.media_id AS dup_id,
       ROUND(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
FROM feats a JOIN feats b ON a.media_id < b.media_id
WHERE ROUND(list_cosine_similarity(a.vec, b.vec), 4) >= 0.999
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep min doc_id (survivor set)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


SQL_DEDUP_EXACT = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def q_dedup_fuzzy_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 (deduplicate_rants.py:12-21) generalization: look-ahead-3 sliding
    window within source, Levenshtein similarity ratio per candidate pair
    (threshold=None: every pair with its ratio — matches the SQL oracle).
    Runs through operators.dedup.fuzzy_window_pairs, whose one-window-pass
    + rebalance-before-Levenshtein shape is what makes the quadratic string
    work use the whole cluster instead of #sources tasks."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    return dedup.fuzzy_window_pairs(
        docs, "doc_id", "text", order_col="doc_id", partition_col="source",
        lookahead=3, threshold=None,
    ).withColumnRenamed("dup_id", "cand_id")


SQL_DEDUP_FUZZY_WINDOW = """
WITH w AS (
  SELECT doc_id, text,
         LEAD(doc_id, 1) OVER win AS d1, LEAD(text, 1) OVER win AS t1,
         LEAD(doc_id, 2) OVER win AS d2, LEAD(text, 2) OVER win AS t2,
         LEAD(doc_id, 3) OVER win AS d3, LEAD(text, 3) OVER win AS t3
  FROM documents
  WINDOW win AS (PARTITION BY source ORDER BY doc_id)
)
SELECT doc_id, d1 AS cand_id,
       ROUND(100.0 * (1.0 - levenshtein(text, t1) * 1.0 / GREATEST(LENGTH(text), LENGTH(t1), 1)), 2) AS ratio
FROM w WHERE d1 IS NOT NULL
UNION ALL
SELECT doc_id, d2,
       ROUND(100.0 * (1.0 - levenshtein(text, t2) * 1.0 / GREATEST(LENGTH(text), LENGTH(t2), 1)), 2)
FROM w WHERE d2 IS NOT NULL
UNION ALL
SELECT doc_id, d3,
       ROUND(100.0 * (1.0 - levenshtein(text, t3) * 1.0 / GREATEST(LENGTH(text), LENGTH(t3), 1)), 2)
FROM w WHERE d3 IS NOT NULL
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens_df(spark, sf_dir)
    return toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))


SQL_TOKEN_COUNT = f"""
WITH {TOKENS_CTE.strip()}
SELECT doc_id, COUNT(*) AS n_tokens FROM tokens GROUP BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / avg token length / stopword ratio / punct ratio."""
    docs = _read(spark, sf_dir, "documents")
    toks = _tokens_df(spark, sf_dir)
    tok_stats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("term")), 4).alias("avg_token_len"),
        F.round(
            F.sum(F.when(F.col("term").isin(*sorted(STOPWORDS)), 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("stopword_ratio"),
    )
    return docs.join(tok_stats, "doc_id").select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        "n_tokens",
        "avg_token_len",
        "stopword_ratio",
        F.round(
            F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
    )


SQL_QUALITY_SCORE = f"""
WITH {TOKENS_CTE.strip()},
tok_stats AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(AVG(LENGTH(term)), 4) AS avg_token_len,
         ROUND(SUM(CASE WHEN term IN {STOPWORDS_SQL} THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS stopword_ratio
  FROM tokens GROUP BY doc_id
)
SELECT d.doc_id, LENGTH(d.text) AS len_chars, t.n_tokens, t.avg_token_len, t.stopword_ratio,
       ROUND(LENGTH(regexp_replace(d.text, '[a-z0-9 ]', '', 'g')) * 1.0 / GREATEST(LENGTH(d.text), 1), 4) AS punct_ratio
FROM documents d JOIN tok_stats t USING (doc_id)
"""


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (KFold): deterministic fold assignment + per-fold counts."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.withColumn("fold", (F.col("doc_id") % 5).cast("int"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_KFOLD = """
SELECT CAST(doc_id % 5 AS INTEGER) AS fold, COUNT(*) AS n
FROM documents GROUP BY 1
"""


def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (stratified split): per-stratum round-robin fold, per (label, fold) counts."""
    emb = _read(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    return (
        emb.withColumn("fold", ((F.row_number().over(w) - 1) % 3).cast("int"))
        .groupBy("label", "fold")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_STRATIFIED_SPLIT = """
WITH assigned AS (
  SELECT label,
         CAST((ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1) % 3 AS INTEGER) AS fold
  FROM embeddings
)
SELECT label, fold, COUNT(*) AS n FROM assigned GROUP BY label, fold
"""


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 3): the ANN
    baseline.  Query side is broadcast; similarity computed JVM-side with
    higher-order array functions (no UDF)."""
    emb = _read(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    q = d.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    dot = F.aggregate(
        F.zip_with("qvec", "vec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(F.aggregate("qvec", F.lit(0.0), lambda acc, x: acc + x * x))
    nv = F.sqrt(F.aggregate("vec", F.lit(0.0), lambda acc, x: acc + x * x))
    pairs = (
        F.broadcast(q)
        .crossJoin(d)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("nid"), F.round(dot / (nq * nv), 4).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return pairs.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= 5
    )


SQL_KNN_COSINE = """
WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
q AS (SELECT vec_id AS qid, vec AS qvec FROM d WHERE vec_id < 3),
pairs AS (
  SELECT q.qid, d.vec_id AS nid,
         ROUND(list_cosine_similarity(q.qvec, d.vec), 4) AS sim
  FROM q, d WHERE d.vec_id <> q.qid
)
SELECT qid, nid, sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS INTEGER) AS rank
FROM pairs QUALIFY rank <= 5
"""


def _vocab50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared 50-term vocabulary (df>=5, top by tf desc/term asc, lexicographic
    index) used by the BoW transform queries."""
    toks = _tokens_df(spark, sf_dir)
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    # distributed top-k (TakeOrderedAndProject), then index the <=50
    # survivors — no single-partition Window over the full term universe
    from ..operators.vectorize import with_sorted_index

    top = stats.filter(F.col("df") >= 5).orderBy(F.col("tf").desc(), "term").limit(50)
    return with_sorted_index(top, ("term",), "index", num_partitions=1).select(
        "term", "df", "index"
    )


VOCAB50_CTE = f"""
WITH {TOKENS_CTE.strip()},
stats AS (
  SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM tokens GROUP BY term
),
cut AS (
  SELECT term, df FROM stats WHERE df >= 5
  QUALIFY ROW_NUMBER() OVER (ORDER BY tf DESC, term) <= 50
),
vocab AS (
  SELECT term, df, CAST(ROW_NUMBER() OVER (ORDER BY term) - 1 AS INTEGER) AS index
  FROM cut
)
"""


def q_bow_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 transform: per-document sparse term counts over the fitted vocab
    (long format IS the sparse matrix)."""
    toks = _tokens_df(spark, sf_dir)
    vocab = _vocab50(spark, sf_dir)
    return (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "index")
        .agg(F.count(F.lit(1)).cast("long").alias("value"))
    )


SQL_BOW_COUNTS = f"""
{VOCAB50_CTE.strip()}
SELECT t.doc_id, v.index, COUNT(*) AS value
FROM tokens t JOIN vocab v USING (term)
GROUP BY t.doc_id, v.index
"""


def q_bow_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 transform: tf * smooth idf (ln((1+n)/(1+df))+1), l2 row norm —
    sklearn-0.16 TfidfVectorizer semantics (SURVEY.md §2.5)."""
    docs = _read(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = _tokens_df(spark, sf_dir)
    vocab = _vocab50(spark, sf_dir)
    counts = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id", "index", "df")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    idf = F.log((F.lit(1.0) + F.lit(float(n_docs))) / (F.lit(1.0) + F.col("df"))) + 1.0
    weighted = counts.withColumn("w", F.col("tf") * idf)
    wnorm = Window.partitionBy("doc_id")
    norm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(wnorm))
    return weighted.select(
        "doc_id", "index", F.round(F.col("w") / norm, 4).alias("value")
    )


SQL_BOW_TFIDF = f"""
{VOCAB50_CTE.strip()},
counts AS (
  SELECT t.doc_id, v.index, v.df, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM tokens t JOIN vocab v USING (term)
  GROUP BY t.doc_id, v.index, v.df
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
weighted AS (
  SELECT doc_id, index, tf * (LN((1.0 + (SELECT n_docs FROM n)) / (1.0 + df)) + 1.0) AS w
  FROM counts
)
SELECT doc_id, index, ROUND(w / SQRT(SUM(w * w) OVER (PARTITION BY doc_id)), 4) AS value
FROM weighted
"""


# ---------------------------------------------------------------------------
# rows-only queries (Arrow-UDF semantics not expressible in ANSI SQL;
# allclose-verified against the golden pipeline in tests/)
# ---------------------------------------------------------------------------


def q_rant_stats_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: the 19-field feature map over derived transcripts (Arrow UDF)."""
    t = transcripts_df(spark, sf_dir)
    out = textfeats.with_rant_stats(t)
    return out.select(
        "conv_id",
        "turn_idx",
        *[F.round(F.col(f"`{c}`"), 6).alias(c) for c in textfeats.feature_fields()],
    )


def q_vectorize_type_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 with the reference's token-type tokenizer + trigrams (custom Arrow
    tokenizer → rows-only; parity vs golden pinned in tests/test_vectorize.py)."""
    from ..operators import vectorize

    t = transcripts_df(spark, sf_dir)
    vocab = vectorize.fit_vocabulary(
        t, tokenizer="token_type", ngram_range=(1, 3), min_df=25, max_features=500
    )
    return vectorize.transform_counts(
        t, vocab, tokenizer="token_type", ngram_range=(1, 3)
    )


# shared corpus CTE for the dedup oracles: documents + injected near-dups
# (doc_id % 37 == 0 → copy at doc_id+1e6 with ' x' appended), mirroring the
# Spark-side injection in the queries below
DEDUP_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' x' AS text
  FROM documents WHERE doc_id % 37 = 0
)
"""

# distinct char-3-gram shingles per doc (sequence-of-offsets + substr — the
# same semantics as operators/dedup._shingles_df)
DEDUP_SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 3) AS shingle
  FROM corpus, unnest(range(1, GREATEST(length(text) - 2, 1) + 1)) AS t(i)
  WHERE length(substr(text, CAST(i AS INTEGER), 3)) > 0
)
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard verify.

    Oracle: the FULL exact char-3-gram Jaccard >= 0.8 pair set.  The LSH
    stage's capture probability at the 0.8 threshold is 1-(1-0.8^4)^16 ≈
    0.9998 (and ≈1 for the injected near-identical dups), and the banding is
    seeded/deterministic — so on the driver's fixed corpus the candidate set
    provably covers every qualifying pair (validated exact at sf0.001 and
    sf0.01); the exact-verify stage then makes precision 1.0 by
    construction.  A pair missed by banding would surface as a row-count
    mismatch — that IS the recall check."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return dedup.minhash_lsh_pairs(
        docs.unionByName(dups), "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.8
    )


SQL_DEDUP_MINHASH = f"""
WITH {DEDUP_CORPUS_CTE.strip()},
{DEDUP_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS dup_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c0.doc_id, c0.dup_id,
       ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) AS jaccard
FROM common c0
JOIN sizes sa ON sa.doc_id = c0.doc_id
JOIN sizes sb ON sb.doc_id = c0.dup_id
WHERE ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) >= 0.8
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH: a NEW shard (two near-identical variants
    per selected doc, ids +1M/+2M) deduped against the standing documents
    corpus — pairs touching the shard only, old×old candidate mass never
    built (operators/dedup.minhash_lsh_pairs_incremental).  Oracle: exact
    char-3-gram Jaccard >= 0.8 over the union, filtered to pairs whose
    larger id is a shard id — same recall argument as q_dedup_minhash
    (banding capture ≈1 at the injected similarities, verify = precision
    1.0)."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 37 == 0)
    shard = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
    ).unionByName(
        base.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" y")).alias("text"),
        )
    )
    return dedup.minhash_lsh_pairs_incremental(
        shard, docs.select("doc_id", "text"), "doc_id", "text",
        n=3, num_perm=64, bands=16, threshold=0.8,
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' x' AS text
  FROM documents WHERE doc_id % 37 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' y' AS text
  FROM documents WHERE doc_id % 37 = 0
),
{DEDUP_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS dup_id, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c0.doc_id, c0.dup_id,
       ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) AS jaccard
FROM common c0
JOIN sizes sa ON sa.doc_id = c0.doc_id
JOIN sizes sb ON sb.doc_id = c0.dup_id
WHERE ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) >= 0.8
  AND c0.dup_id >= 1000000
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level dedup (corpus.dedup_lines) over a two-line corpus
    where doc i = [text_i, text_{i+1}] (built by a doc_id+1 self-join) —
    every interior line occurs in exactly two documents, so the operator
    must keep each line's first (doc_id, idx) occurrence and rebuild doc 0
    intact, every later doc to its second line only."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_t2")
    )
    multi = docs.join(nxt, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), F.coalesce(F.col("_t2"), F.lit(""))
        ).alias("text"),
    )
    return corpus.dedup_lines(multi).select(
        "doc_id", "text", "n_lines_kept", "n_lines_dropped"
    )


SQL_LINE_DEDUP = """
WITH multi AS (
  SELECT d.doc_id, d.text || chr(10) || COALESCE(n.text, '') AS text
  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
),
split AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, chr(10))))) - 1 AS idx,
         unnest(string_split(text, chr(10))) AS line
  FROM multi
),
lines AS (
  SELECT doc_id, idx, line,
         regexp_replace(lower(line), '[^\\p{L}]+', '', 'g') AS norm
  FROM split
),
ranked AS (
  SELECT doc_id, idx, line,
         ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, idx) AS rn
  FROM lines WHERE norm <> ''
),
kept AS (
  SELECT doc_id, idx, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT doc_id, idx, line FROM lines WHERE norm = ''
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY idx) AS text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
SELECT m.doc_id,
       COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
       t.n_total - COALESCE(r.n_lines_kept, 0) AS n_lines_dropped
FROM multi m
LEFT JOIN rebuilt r ON r.doc_id = m.doc_id
JOIN totals t ON t.doc_id = m.doc_id
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget composition (corpus.sample_to_token_budget):
    per source keep documents in deterministic md5 order until 40% of the
    source's total chars is reached.  The Spark side runs the two-level
    bucketed cumsum (no per-source global window); the oracle is the
    naive full window cumsum — hash equality proves the decomposition
    exact."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    budgets = docs.groupBy("source").agg(
        F.floor(F.sum("n_chars") * 0.4).cast("long").alias("token_budget")
    )
    return corpus.sample_to_token_budget(
        docs.select("doc_id", "source", "n_chars"),
        budgets,
        tokens_col="n_chars",
    ).select("doc_id", "source", "n_chars")


SQL_TOKEN_BUDGET = """
WITH budgets AS (
  SELECT source, CAST(FLOOR(SUM(n_chars) * 0.4) AS BIGINT) AS token_budget
  FROM documents GROUP BY source
),
ordered AS (
  SELECT d.doc_id, d.source, d.n_chars, b.token_budget,
         SUM(d.n_chars) OVER (
           PARTITION BY d.source ORDER BY md5(CAST(d.doc_id AS VARCHAR))
         ) AS cum
  FROM documents d JOIN budgets b USING (source)
)
SELECT doc_id, source, n_chars FROM ordered WHERE cum <= token_budget
"""


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (corpus.c4_filter, Raffel 2020 §2.2) over
    two-line pages built so every rule fires on SOME doc: line 1 gains a
    terminal period on doc_id%3==0 only (the punct rule), line 2 is
    either a javascript banner (doc_id%5==0) or the next doc's text with
    a terminal '!' — map-only, zero shuffle after the page build."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_t2")
    )
    line1 = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("."))
    ).otherwise(F.col("text"))
    line2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit("please enable javascript to continue."),
    ).otherwise(F.concat(F.coalesce(F.col("_t2"), F.lit("")), F.lit(" ok!")))
    multi = docs.join(nxt, "doc_id", "left").select(
        "doc_id", F.concat_ws("\n", line1, line2).alias("text")
    )
    return corpus.c4_filter(multi, min_sentences=2).select(
        "doc_id", "text", "n_lines_kept", "n_sentences", "keep"
    )


SQL_C4_FILTER = """
WITH multi AS (
  SELECT d.doc_id,
         (CASE WHEN d.doc_id % 3 = 0 THEN d.text || '.' ELSE d.text END)
         || chr(10) ||
         (CASE WHEN d.doc_id % 5 = 0
               THEN 'please enable javascript to continue.'
               ELSE COALESCE(n.text, '') || ' ok!' END) AS text
  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
),
cleaned AS (
  SELECT doc_id,
         list_filter(
           string_split(text, chr(10)),
           x -> regexp_matches(x, '[.!?"]\\s*$')
                AND len(list_filter(regexp_split_to_array(trim(x), '\\s+'),
                                    w -> w <> '')) >= 3
                AND NOT contains(lower(x), 'javascript')
         ) AS kept
  FROM multi
),
pages AS (
  SELECT doc_id,
         COALESCE(array_to_string(kept, chr(10)), '') AS text,
         CAST(len(kept) AS INT) AS n_lines_kept
  FROM cleaned
)
SELECT doc_id, text, n_lines_kept,
       CAST(len(list_filter(regexp_split_to_array(text, '[.!?"]+'),
                            s -> trim(s) <> '')) AS INT) AS n_sentences,
       (len(list_filter(regexp_split_to_array(text, '[.!?"]+'),
                        s -> trim(s) <> '')) >= 2
        AND NOT contains(text, '{') AND NOT contains(text, '}')
        AND NOT contains(lower(text), 'lorem ipsum')) AS keep
FROM pages
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher doc-quality rules (corpus.gopher_quality, Rae 2021 A1.1) —
    the non-repetition family: word-count bounds, mean word length,
    symbol ratio, alpha-word fraction, stop-word probe.  Map-only."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    out = corpus.gopher_quality(
        docs.select("doc_id", "text"),
        min_words=20,
        # the synthetic corpus's own function-word analogue of the paper's
        # English probe (the corpus contains 'the'/'a' but only one of the
        # canonical eight — an all-English probe would be vacuous here)
        stopwords=("the", "a", "table", "value", "row", "scan"),
    )
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        F.round("symbol_ratio", 4).alias("symbol_ratio"),
        F.round("alpha_word_frac", 4).alias("alpha_word_frac"),
        "stopword_hits",
        "keep",
    )


SQL_GOPHER_QUALITY = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words
  FROM documents
),
m AS (
  SELECT doc_id, text, words, CAST(len(words) AS INT) AS n_words,
         CASE WHEN len(words) > 0 THEN
           CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
             / len(words) ELSE 0.0 END AS mean_word_len,
         CASE WHEN len(words) > 0 THEN
           CAST(len(regexp_extract_all(text, '#|…|\.{3}'))
                AS DOUBLE) / len(words) ELSE 0.0 END AS symbol_ratio,
         CASE WHEN len(words) > 0 THEN
           CAST(len(list_filter(words, x -> regexp_matches(x, '\p{L}')))
                AS DOUBLE) / len(words) ELSE 0.0 END AS alpha_word_frac,
         CAST(len(list_filter(
           ['the','a','table','value','row','scan'],
           s -> list_contains(list_transform(words, x -> lower(x)), s)
         )) AS INT) AS stopword_hits
  FROM w
)
SELECT doc_id, n_words,
       ROUND(mean_word_len, 4) AS mean_word_len,
       ROUND(symbol_ratio, 4) AS symbol_ratio,
       ROUND(alpha_word_frac, 4) AS alpha_word_frac,
       stopword_hits,
       (n_words BETWEEN 20 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_ratio <= 0.1
        AND alpha_word_frac >= 0.8
        AND stopword_hits >= 2) AS keep
FROM m
"""


def q_shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment (corpus.shard_corpus):
    md5-uniform shard of 8 + within-shard md5 rank — reproducible global
    shuffle with per-shard sorts only."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    return corpus.shard_corpus(docs.select("doc_id"), n_shards=8).select(
        "doc_id", "shard", "pos"
    )


SQL_SHARD_CORPUS = """
WITH t AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 8 AS INT) AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS u
  FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY u) - 1 AS INT) AS pos
FROM t
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the dup-injected corpus.  At
    max_hamming=3 the 4x16-bit band blocking is pigeonhole-EXHAUSTIVE
    (any pair within distance 3 shares a band), and the md5-derived
    signature bits are reproducible in DuckDB — so this carries a full
    brute-force all-pairs oracle, not a rows-only check."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return dedup.simhash_pairs(docs.unionByName(dups), "doc_id", "text", max_hamming=3)


# 64 per-bit ±1 sums + signed-bit reassembly, generated once (hi/lo are the
# two md5-derived 32-bit halves; bit 63 is the sign bit of the BIGINT)
_SIMHASH_ACCS = ",\n         ".join(
    f"SUM(CASE WHEN (({'lo' if i < 32 else 'hi'} >> {i % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS a{i}"
    for i in range(64)
)
_SIMHASH_VAL = "\n       + ".join(
    [f"(CASE WHEN a{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)" for i in range(63)]
    + ["(CASE WHEN a63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"]
)

SQL_DEDUP_SIMHASH = f"""
WITH docs_u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' x' AS text
  FROM documents WHERE doc_id % 37 = 0
),
toks0 AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
  FROM docs_u
),
t AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
         CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo
  FROM toks0 WHERE tok <> ''
),
acc AS (
  SELECT doc_id,
         {_SIMHASH_ACCS}
  FROM t GROUP BY doc_id
),
sig0 AS (SELECT doc_id, {_SIMHASH_VAL} AS simhash FROM acc),
sig AS (
  SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
  FROM (SELECT DISTINCT doc_id FROM docs_u) d LEFT JOIN sig0 s USING (doc_id)
)
SELECT a.doc_id, b.doc_id AS dup_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_reference_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 exact reference semantics (deduplicate_rants.py queue walk):
    survivor set after chained look-ahead-3 dedup + len>50 filter.

    The inherently-sequential walk (a row marked dup is skipped as a later
    anchor, so dup-of-a-dup SURVIVES) has a DuckDB oracle as a RECURSIVE CTE
    stepping one row per source in doc_id order, carrying the dropped-set as
    a LIST and joining the three look-ahead candidates per step — bit-exact
    vs the Arrow queue-walk at both test scales."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    return dedup.fuzzy_window_dedup(
        docs, "doc_id", "text", order_col="doc_id", partition_col="source",
        lookahead=3, threshold=90.0, min_length=50,
    )


SQL_DEDUP_REFERENCE_CHAIN = """
WITH RECURSIVE rows_ord AS (
  SELECT source, doc_id, text,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
srcs AS (SELECT DISTINCT source, n FROM rows_ord),
walk AS (
  SELECT source, CAST(0 AS BIGINT) AS step, CAST([] AS BIGINT[]) AS dropped, n
  FROM srcs
  UNION ALL
  SELECT w.source, w.step + 1,
         CASE WHEN list_contains(w.dropped, w.step + 1) THEN w.dropped
              ELSE w.dropped
                || CASE WHEN c1.rn IS NOT NULL AND NOT list_contains(w.dropped, c1.rn)
                         AND 100.0 * (1.0 - levenshtein(a.text, c1.text) * 1.0
                             / GREATEST(length(a.text), length(c1.text), 1)) > 90.0
                        THEN [c1.rn] ELSE [] END
                || CASE WHEN c2.rn IS NOT NULL AND NOT list_contains(w.dropped, c2.rn)
                         AND 100.0 * (1.0 - levenshtein(a.text, c2.text) * 1.0
                             / GREATEST(length(a.text), length(c2.text), 1)) > 90.0
                        THEN [c2.rn] ELSE [] END
                || CASE WHEN c3.rn IS NOT NULL AND NOT list_contains(w.dropped, c3.rn)
                         AND 100.0 * (1.0 - levenshtein(a.text, c3.text) * 1.0
                             / GREATEST(length(a.text), length(c3.text), 1)) > 90.0
                        THEN [c3.rn] ELSE [] END
         END,
         w.n
  FROM walk w
  JOIN rows_ord a ON a.source = w.source AND a.rn = w.step + 1
  LEFT JOIN rows_ord c1 ON c1.source = w.source AND c1.rn = w.step + 2
  LEFT JOIN rows_ord c2 ON c2.source = w.source AND c2.rn = w.step + 3
  LEFT JOIN rows_ord c3 ON c3.source = w.source AND c3.rn = w.step + 4
  WHERE w.step < w.n
),
final AS (SELECT source, dropped FROM walk WHERE step = n)
SELECT r.doc_id, r.text
FROM rows_ord r JOIN final f ON r.source = f.source
WHERE NOT list_contains(f.dropped, r.rn) AND length(r.text) > 50
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 on the SAMPLED-fit path (fit_fraction=0.5) — the scale
    default: at 10^9 vectors the k-means fit must never be a full-corpus
    job, and ann_ivf_fullprobe proves correctness is fit-independent.
    Rows-only; recall + determinism pinned in pytest."""
    from ..operators import similarity

    emb = _read(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, fit_fraction=0.5
    )


def q_ann_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe == n_centroids: probing every cell must reproduce the
    exact brute-force top-5 bit-for-bit — a SQL-checkable correctness gate
    on the whole IVF machinery (assignment, probe join, re-rank), with the
    same DuckDB oracle as knn_cosine."""
    from ..operators import similarity

    emb = _read(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_centroids=8, nprobe=8
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5 (rows-only; recall vs brute force pinned in
    pytest — q_knn_cosine above is the exact baseline with a SQL oracle)."""
    from ..operators import similarity

    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)


def q_ann_lsh_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH with n_planes=0: every vector lands in the single
    bucket, so the candidate set is exhaustive and the result must equal
    the brute-force top-5 bit-for-bit — the SQL-checkable gate on the LSH
    candidate-join + re-rank machinery (ann_lsh above measures recall at
    real plane counts)."""
    from ..operators import similarity

    emb = _read(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_planes=0, n_tables=1
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic over documents.  The marker-scoring heuristic
    (textanalysis._detect_lang) is fully re-expressed in the DuckDB oracle:
    whitespace-token marker hits + 3x distinctive-char hits per language,
    CJK-ratio zh gate, alphabetical tie-break, zero-score → 'und'.
    Accuracy on multilingual fixtures is separately pinned in pytest (the
    driver's lang column is synthetic)."""
    from ..functions import textanalysis

    docs = _read(spark, sf_dir, "documents")
    return textanalysis.with_langid(docs).select("doc_id", "lang_pred")


SQL_LANGID = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents
),
hits AS (
  SELECT doc_id,
         SUM(CASE WHEN tok IN ('the','and','of','to','is','in','that','with','for','it') THEN 1 ELSE 0 END) AS wh_en,
         SUM(CASE WHEN tok IN ('der','die','das','und','ist','nicht','ein','mit','für','von') THEN 1 ELSE 0 END) AS wh_de,
         SUM(CASE WHEN tok IN ('le','la','les','et','est','un','une','des','dans','pour') THEN 1 ELSE 0 END) AS wh_fr,
         SUM(CASE WHEN tok IN ('el','la','los','las','es','un','una','que','por','para') THEN 1 ELSE 0 END) AS wh_es
  FROM toks GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id,
         d.text,
         length(regexp_replace(d.text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
         length(d.text) AS n,
         COALESCE(h.wh_en, 0) AS s_en,
         COALESCE(h.wh_de, 0) + 3 * length(regexp_replace(d.text, '[^äöüß]', '', 'g')) AS s_de,
         COALESCE(h.wh_fr, 0) + 3 * length(regexp_replace(d.text, '[^éèêàçù]', '', 'g')) AS s_fr,
         COALESCE(h.wh_es, 0) + 3 * length(regexp_replace(d.text, '[^ñ¿¡áíóú]', '', 'g')) AS s_es
  FROM documents d LEFT JOIN hits h USING (doc_id)
)
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 'und'
            WHEN cjk * 1.0 / GREATEST(n, 1) > 0.2 THEN 'zh'
            WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM scored
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document fingerprints (functions/textanalysis
    .with_fingerprint): md5-based k-gram hashes, sliding-window minima,
    distinct-xor combine — all built-in expressions, with a full DuckDB
    value oracle (list_transform/list_slice/list_reduce mirror)."""
    from ..functions import textanalysis
    from .curation import input_partitions

    # single-file sf layout: rebalance or the whole O(n_chars·window)
    # hash pass runs as one task (BENCH/BASELINE.md round 3)
    docs = _read(spark, sf_dir, "documents").repartition(input_partitions(spark))
    return textanalysis.with_fingerprint(docs).select("doc_id", "fingerprint")


SQL_FINGERPRINT = """
WITH h AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(length(COALESCE(text, '')) - 6, 1) + 1),
           i -> CAST(concat('0x', substr(md5(substr(COALESCE(text, ''), CAST(i AS INTEGER), 7)), 1, 8)) AS BIGINT)
         ) AS hashes
  FROM documents
),
m AS (
  SELECT doc_id,
         list_distinct(
           list_transform(
             range(1, greatest(len(hashes) - 3, 1) + 1),
             j -> list_min(list_slice(hashes, CAST(j AS INTEGER), CAST(j + 3 AS INTEGER)))
           )
         ) AS minima
  FROM h
)
SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), minima), (a, b) -> xor(a, b)) AS BIGINT) AS fingerprint
FROM m
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard near-dup pairs on the dup-injected corpus.
    DuckDB oracle: shingle-unnest self-join with the identical
    max_shingle_df=400 stop-shingle cut (sizes measured post-cut)."""
    from ..operators import dedup

    docs = _read(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" x")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return dedup.ngram_jaccard_pairs(
        docs.unionByName(dups), "doc_id", "text", n=3, threshold=0.8, max_shingle_df=400
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {DEDUP_CORPUS_CTE.strip()},
{DEDUP_SHINGLES_CTE.strip()},
cut AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) <= 400),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN cut USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS dup_id, COUNT(*) AS c
  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT c0.doc_id, c0.dup_id,
       ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) AS jaccard
FROM common c0
JOIN sizes sa ON sa.doc_id = c0.doc_id
JOIN sizes sb ON sb.doc_id = c0.dup_id
WHERE ROUND(c0.c * 1.0 / (sa.sz + sb.sz - c0.c), 4) >= 0.8
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTI-TABLE hyperplane blocking;
    injected exact-copy vectors.  DuckDB oracle: brute-force all-pairs
    cosine >= threshold — at 0.999 every qualifying pair is
    (near-)identical, so it shares all plane signs in every table and
    blocking has recall 1 here (a missed pair would surface as a row-count
    mismatch).  Recall at the operator's REAL working point (perturbed
    vectors at cosine 0.90-0.97) is pinned separately in
    tests/test_dedup_similarity.py::TestEmbeddingNeardupRecall."""
    from ..operators import dedup

    emb = _read(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 53 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    return dedup.embedding_neardup_pairs(
        emb.unionByName(dups), "vec_id", "embedding", threshold=0.999, n_planes=12
    )


SQL_EMBEDDING_NEARDUP = """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS vec
  FROM embeddings WHERE vec_id % 53 = 0
)
SELECT a.vec_id AS doc_id, b.vec_id AS dup_id,
       ROUND(list_cosine_similarity(a.vec, b.vec), 4) AS cosine
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.vec, b.vec), 4) >= 0.999
"""


def q_vectorize_pos_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: TF-IDF over POS bigrams (tokenize_pos analogue) — rows-only."""
    from ..operators import vectorize

    t = transcripts_df(spark, sf_dir)
    vocab = vectorize.fit_vocabulary(
        t, tokenizer="pos", ngram_range=(1, 2), min_df=25, max_features=4000
    )
    out = vectorize.transform_counts(
        t, vocab, tokenizer="pos", ngram_range=(1, 2), tfidf=True
    )
    return out.select("conv_id", "turn_idx", "index", F.round("value", 6).alias("value"))


def q_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 at scale (fit-free): hashing-trick vectorizer over the documents
    word tokens — md5-bucket index + alternate-sign counts, no vocabulary
    job (operators/vectorize.py:transform_hashing)."""
    from ..operators import vectorize

    toks = _tokens_df(spark, sf_dir)
    return vectorize.transform_hashing(
        None, n_features=4096, id_cols=["doc_id"], terms=toks
    )


SQL_HASHING_VECTORIZE = f"""
WITH {TOKENS_CTE.strip().lstrip()},
hashed AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT) % 4096 AS INTEGER) AS index,
         CASE WHEN CAST(concat('0x', substr(md5(term), 9, 1)) AS INTEGER) % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM tokens
)
SELECT doc_id, index, CAST(SUM(sign) AS BIGINT) AS value
FROM hashed GROUP BY doc_id, index
"""


def q_smote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (SMOTE, reference tests/smote.py:1-38): deterministic hash-stream
    SMOTE over the embeddings table's label-5 class — exact within-class
    kNN (k=3), 2 synthetic rows per base row.  The synthetic vector leaves
    the result as an exact integer digest (per-element e4-scaled BIGINT
    sum, the money convention) so the hash compare never sees raw
    double-array serialization."""
    from ..operators import smote

    emb = _read(spark, sf_dir, "embeddings")
    out = smote.smote_oversample(emb, minority_label=5, k=3, n_per_base=2)
    digest = F.aggregate(
        F.transform("synth", lambda v: F.round(v * 10000, 0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return out.select(
        "base_id",
        "rep",
        "nbr_id",
        F.round("gap", 6).alias("gap_r"),
        digest.alias("synth_sum_e4"),
        "label",
    )


SQL_SMOTE = """
WITH m AS (
  SELECT vec_id AS base_id, CAST(embedding AS DOUBLE[]) AS base_vec
  FROM embeddings WHERE label = 5
),
pairs AS (
  SELECT a.base_id, a.base_vec, b.base_id AS nbr_id, b.base_vec AS nbr_vec,
         ROUND(list_sum(list_transform(generate_series(1, len(a.base_vec)),
               i -> (a.base_vec[i] - b.base_vec[i]) * (a.base_vec[i] - b.base_vec[i]))), 6) AS dist2
  FROM m a JOIN m b ON a.base_id <> b.base_id
),
knn AS (
  SELECT * EXCLUDE (dist2),
         CAST(ROW_NUMBER() OVER (PARTITION BY base_id ORDER BY dist2, nbr_id) AS INTEGER) AS nbr_rank
  FROM pairs
  QUALIFY nbr_rank <= 3
),
picked AS (
  SELECT k.*, MAX(nbr_rank) OVER (PARTITION BY base_id) AS n_nbrs,
         CAST(r.rep AS INTEGER) AS rep,
         ((k.base_id % 1000003) * 1103515245 + r.rep * 12345 + 42) % 2147483647 AS h1,
         ((k.base_id % 1000003) * 69069 + r.rep * 54321 + 294) % 2147483647 AS h2
  FROM knn k CROSS JOIN generate_series(0, 1) r(rep)
)
SELECT base_id, rep, nbr_id,
       ROUND(CAST(h2 AS DOUBLE) / 2147483647.0, 6) AS gap_r,
       CAST(list_sum(list_transform(generate_series(1, len(base_vec)),
           i -> CAST(ROUND((base_vec[i] + (CAST(h2 AS DOUBLE) / 2147483647.0)
                            * (nbr_vec[i] - base_vec[i])) * 10000, 0) AS BIGINT))) AS BIGINT) AS synth_sum_e4,
       5 AS label
FROM picked
WHERE nbr_rank = CAST(h1 % LEAST(3, n_nbrs) AS INTEGER) + 1
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality stats (operators/corpus.py) — the
    pretraining-quality analogue of the reference's length filter
    (generate_dataset_gvsb.py:64).  The corpus texts are single-line, so
    lines are derived deterministically (every word its own line,
    translate ' '→'\\n') to exercise the duplicate-line machinery end-to-end;
    bigram stats run on the same text (the tokenizer treats \\n as a
    separator, so bigrams are unchanged)."""
    from ..operators import corpus as corpus_ops

    # repartition: the sf documents table is ONE parquet file, so without it
    # the explode+count runs as a single task; at corpus scale the input
    # splits already provide this parallelism and the operator itself adds
    # no shuffle (tested single-Generate/no-join plan)
    from .curation import input_partitions

    docs = _read(spark, sf_dir, "documents").repartition(
        input_partitions(spark)
    ).withColumn("text", F.translate("text", " ", "\n"))
    return corpus_ops.repetition_stats(docs)


SQL_REPETITION_STATS = f"""
WITH docs2 AS (
  SELECT doc_id, replace(text, ' ', chr(10)) AS text FROM documents
),
lines0 AS (
  SELECT doc_id, trim(l) AS line
  FROM docs2, UNNEST(string_split(text, chr(10))) AS t(l)
),
lines AS (SELECT doc_id, line FROM lines0 WHERE line <> ''),
lc AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY doc_id, line),
ls AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
         ROUND(1.0 - COUNT(*) * 1.0 / SUM(cnt), 4) AS dup_line_frac,
         ROUND(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(line) ELSE 0 END) * 1.0
               / GREATEST(SUM(cnt * LENGTH(line)), 1), 4) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
),
warr AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS w
  FROM docs2
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
  FROM warr, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
gc AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, bigram),
gw AS (
  SELECT doc_id, cnt, bigram,
         SUM(cnt * LENGTH(bigram)) OVER (PARTITION BY doc_id) AS tot_chars,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram DESC) AS rn
  FROM gc
),
gtop AS (
  SELECT doc_id, ROUND(cnt * LENGTH(bigram) * 1.0 / GREATEST(tot_chars, 1), 4) AS top_bigram_frac
  FROM gw WHERE rn = 1
)
SELECT ls.doc_id, ls.n_lines, ls.dup_line_frac, ls.dup_line_char_frac,
       COALESCE(gtop.top_bigram_frac, 0.0) AS top_bigram_frac
FROM ls LEFT JOIN gtop USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus.py): corpus docs sharing
    ≥1 word 6-gram with the held-out benchmark slice (source='src0') —
    distinct benchmark n-grams broadcast, corpus matched map-side."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    # repartition the corpus side only (single-file local layout, see
    # q_repetition_stats); the benchmark side stays tiny and broadcasts
    from .curation import input_partitions

    corpus = docs.filter(F.col("source") != "src0").repartition(
        input_partitions(spark)
    )
    return corpus_ops.contamination_report(corpus, bench, n=6)


SQL_DECONTAMINATE = f"""
WITH warr AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, source, array_to_string(w[i:i+5], ' ') AS ngram
  FROM warr, UNNEST(generate_series(1, len(w) - 5)) AS t(i)
  WHERE len(w) >= 6
),
bench AS (SELECT DISTINCT ngram FROM grams WHERE source = 'src0')
SELECT g.doc_id, CAST(COUNT(DISTINCT g.ngram) AS BIGINT) AS n_shared
FROM grams g JOIN bench USING (ngram)
WHERE g.source <> 'src0'
GROUP BY g.doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/corpus.py): concat-then-chunk documents
    into 64-token training windows per source; per-pack doc and token
    totals."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    packed = corpus_ops.pack_sequences(docs, budget=64)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


SQL_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT source, CAST(FLOOR(cum_before / 64.0) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM packed GROUP BY source, pack_id
"""


def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing (operators/corpus.py): deterministic
    md5-uniform downsampling at per-source rates; sources without a rate
    drop (explicit mixing contract).  Per-source kept counts + char mass
    digest the exact sample membership."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    rates = {"src1": 0.9, "src3": 0.5, "src5": 0.25, "src7": 0.1}
    mixed = corpus_ops.mix_sources(docs, rates, seed=42)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/pii.py): per-kind match counts + typed-placeholder
    redaction, pure JVM regexp.  The corpus has no organic PII, so emails /
    IPs / phones are injected deterministically (doc_id-derived, identical
    expression on both engines) — the counts and redacted length then verify
    the actual pattern semantics, not just zeros."""
    from ..functions import pii

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call "),
                    (F.col("doc_id") % 900 + 100).cast("string"),
                    F.lit("-555-"),
                    (F.col("doc_id") % 9000 + 1000).cast("string"),
                    F.lit(" ok"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.scrub_pii(docs).select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_phone",
        F.length("text").cast("long").alias("red_len"),
    )


SQL_MASK_PII = r"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call ' || (doc_id % 900 + 100) || '-555-' || (doc_id % 9000 + 1000) || ' ok'
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '\+?\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(LENGTH(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\+?\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g')
       ) AS BIGINT) AS red_len
FROM injected
"""


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering (operators/graph.py): connected components over
    a deterministic dup-pair graph (consecutive doc_ids within a source
    whose n_chars differ by ≤50 — chains form, so this exercises multi-hop
    propagation, not just star merges).  Per-component size + id digest;
    the DuckDB oracle recomputes components with a recursive CTE."""
    from ..operators import graph

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    e = (
        docs.select(
            "doc_id",
            "n_chars",
            F.lag("doc_id").over(w).alias("pid"),
            F.lag("n_chars").over(w).alias("pchars"),
        )
        .filter(
            F.col("pid").isNotNull()
            & (F.abs(F.col("n_chars") - F.col("pchars")) <= 50)
        )
        .select(F.col("pid").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comp = graph.connected_components(e)
    return comp.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("node").alias("id_sum"),
    )


def q_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked canonical selection (graph.dedup_keep_best): same
    dup-pair graph as q_dedup_cluster, survivor per component = the member
    with the LARGEST n_chars (ties → lowest doc_id) — the keep-the-best-
    capture policy a production dedup actually wants.  Returns the
    surviving corpus projection."""
    from ..operators import graph

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    e = (
        docs.select(
            "doc_id",
            "n_chars",
            F.lag("doc_id").over(w).alias("pid"),
            F.lag("n_chars").over(w).alias("pchars"),
        )
        .filter(
            F.col("pid").isNotNull()
            & (F.abs(F.col("n_chars") - F.col("pchars")) <= 50)
        )
        .select(F.col("pid").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return graph.dedup_keep_best(
        docs.select("doc_id", "source", "n_chars"), e, score_col="n_chars"
    )


SQL_DEDUP_BEST = """
WITH RECURSIVE base AS (
  SELECT source, doc_id, n_chars,
         LAG(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS pid,
         LAG(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS pchars
  FROM documents
),
e AS (
  SELECT pid AS a, doc_id AS b FROM base
  WHERE pid IS NOT NULL AND ABS(n_chars - pchars) <= 50
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT a AS node, a AS root FROM und
  UNION
  SELECT u.a AS node, r.root FROM und u JOIN reach r ON u.b = r.node
),
comps AS (SELECT node, MIN(root) AS comp FROM reach GROUP BY node),
ranked AS (
  SELECT c.comp, c.node,
         ROW_NUMBER() OVER (
           PARTITION BY c.comp ORDER BY d.n_chars DESC, c.node ASC
         ) AS rn
  FROM comps c JOIN documents d ON d.doc_id = c.node
),
drops AS (SELECT node FROM ranked WHERE rn > 1)
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT node FROM drops)
"""


SQL_DEDUP_CLUSTER = """
WITH RECURSIVE base AS (
  SELECT source, doc_id, n_chars,
         LAG(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS pid,
         LAG(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS pchars
  FROM documents
),
e AS (
  SELECT pid AS a, doc_id AS b FROM base
  WHERE pid IS NOT NULL AND ABS(n_chars - pchars) <= 50
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT a AS node, a AS root FROM und
  UNION
  SELECT u.a AS node, r.root FROM und u JOIN reach r ON u.b = r.node
),
comps AS (SELECT node, MIN(root) AS comp FROM reach GROUP BY node)
SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_nodes, CAST(SUM(node) AS BIGINT) AS id_sum
FROM comps GROUP BY comp
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation flow (plans/curation.py): quality → repetition
    → PII scrub → exact dedup → MinHash near-dup clustering →
    decontamination → packing, reported per source.  Rows-only by design:
    the MinHash Arrow verify and the iterative component loop are not
    ANSI-SQL-expressible — every constituent stage has its own oracle
    (quality_score, repetition_stats, mask_pii, dedup_exact, dedup_minhash,
    dedup_cluster, decontaminate, pack_sequences)."""
    from . import curation

    packed = curation.curate_corpus(spark, sf_dir, budget=256)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("pack_id").alias("n_packs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window overlapping chunking (operators/corpus.py) — the RAG /
    context-window prep op: 120-char chunks, 24 overlap, pure JVM
    posexplode+substring (zero shuffle)."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    return corpus_ops.chunk_documents(docs, chunk_chars=120, overlap=24)


SQL_CHUNK_DOCUMENTS = """
SELECT doc_id,
       CAST((s.i / 96) AS INTEGER) AS chunk_idx,
       CAST(s.i AS BIGINT) AS chunk_start,
       substr(text, CAST(s.i AS INTEGER) + 1, 120) AS chunk_text
FROM documents,
     UNNEST(generate_series(0, GREATEST(LENGTH(text) - 1, 0), 96)) AS s(i)
WHERE s.i = 0 OR s.i + 24 < LENGTH(text)  -- drop fully-contained tail chunks
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe cluster-aware split (operators/graph.py): folds
    assigned per connected component of the dup-pair graph (same edges as
    dedup_cluster), so near-dups never straddle a fold boundary.  Per-fold
    doc counts + id digest."""
    from ..operators import graph

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    e = (
        docs.select(
            "doc_id",
            "n_chars",
            F.lag("doc_id").over(w).alias("pid"),
            F.lag("n_chars").over(w).alias("pchars"),
        )
        .filter(
            F.col("pid").isNotNull()
            & (F.abs(F.col("n_chars") - F.col("pchars")) <= 50)
        )
        .select(F.col("pid").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    out = graph.cluster_aware_split(docs, e, n_folds=3, seed=42)
    return out.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


SQL_CLUSTER_SPLIT = """
WITH RECURSIVE base AS (
  SELECT source, doc_id, n_chars,
         LAG(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS pid,
         LAG(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS pchars
  FROM documents
),
e AS (
  SELECT pid AS a, doc_id AS b FROM base
  WHERE pid IS NOT NULL AND ABS(n_chars - pchars) <= 50
),
und AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
reach AS (
  SELECT a AS node, a AS root FROM und
  UNION
  SELECT u.a AS node, r.root FROM und u JOIN reach r ON u.b = r.node
),
comps AS (SELECT node, MIN(root) AS comp FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id,
         CAST(
           (CAST(concat('0x', substr(md5(COALESCE(c.comp, d.doc_id) || ':42'), 1, 8)) AS BIGINT)) % 3
         AS INTEGER) AS fold
  FROM documents d LEFT JOIN comps c ON d.doc_id = c.node
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM assigned GROUP BY fold
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (functions/textanalysis.unigram_model):
    fit a smoothed unigram LM on the trusted slice (source='src0'), score
    every other document's mean token log-probability — the relational
    core of CCNet/GPT-3 perplexity filtering.  The fit exercises the
    web-scale vocabulary cap (max_features=20 of ~31 distinct terms here:
    the dropped tail's mass folds into the OOV slot) and the scorer's
    size-gated broadcast (model_rows known and small → hint applied)."""
    from ..functions import textanalysis

    docs = _read(spark, sf_dir, "documents")
    ref = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    lm = textanalysis.unigram_model(ref, max_features=20)
    return textanalysis.with_unigram_logprob(
        corpus, lm.model, lm.oov_logp, model_rows=lm.rows
    ).select("doc_id", "n_tokens", "avg_logprob")


SQL_LM_SCORE = f"""
WITH ref_toks0 AS (
  SELECT unnest(string_split_regex(lower(text), '{WORD_RE}')) AS term
  FROM documents WHERE source = 'src0'
),
ref_counts AS (
  SELECT term, COUNT(*) AS cnt FROM ref_toks0 WHERE term <> '' GROUP BY term
),
kept AS (
  SELECT term, cnt FROM ref_counts ORDER BY cnt DESC, term ASC LIMIT 20
),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM ref_counts),
kstat AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS ks, CAST(COUNT(*) AS DOUBLE) AS kc FROM kept
),
model AS (
  SELECT term, ln((cnt + 0.5) / (n + 0.5 * (kc + 1))) AS logp
  FROM kept, tot, kstat
),
ct0 AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '{WORD_RE}')) AS term
  FROM documents WHERE source <> 'src0'
),
ct AS (SELECT doc_id, term FROM ct0 WHERE term <> ''),
scored AS (
  SELECT c.doc_id,
         COALESCE(m.logp,
                  (SELECT ln((n - ks + 0.5) / (n + 0.5 * (kc + 1))) FROM tot, kstat)
         ) AS logp
  FROM ct c LEFT JOIN model m USING (term)
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(logp), 4) AS avg_logprob
  FROM scored GROUP BY doc_id
)
-- LEFT JOIN back to the corpus: a zero-word-token doc has no `scored`
-- rows but the Spark side (with_unigram_logprob) restores it with
-- n_tokens=0 and avg_logprob=round(oov_logp, 4) — mirror that here
-- (ADVICE r4: the inner-unnest-only shape silently dropped such docs).
SELECT d.doc_id,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.avg_logprob,
                (SELECT ROUND(ln((n - ks + 0.5) / (n + 0.5 * (kc + 1))), 4)
                 FROM tot, kstat)) AS avg_logprob
FROM documents d LEFT JOIN agg a USING (doc_id)
WHERE d.source <> 'src0'
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (functions/dsir.py — Xie et al. 2023):
    hashed {1,2}-gram bag models over target (source='src0') vs the raw
    rest, per-doc log importance weight Σ log(p_t/p_r) over md5 buckets.
    The B=1000-row ratio model is bounded by construction, so its
    broadcast is safe at any corpus size."""
    from ..functions import dsir
    from .curation import input_partitions

    # single-file sf layout: rebalance or both fit explodes and the
    # scoring explode run single-task (BENCH/BASELINE.md round 3)
    docs = _read(spark, sf_dir, "documents").repartition(input_partitions(spark))
    target = docs.filter(F.col("source") == "src0")
    raw = docs.filter(F.col("source") != "src0")
    # ONE raw-side explode+md5 pass shared by the model fit (r_counts) and
    # the scoring join — the raw side is ~19/20 of the corpus, and without
    # the shared pinned frame it tokenizes twice (fit + scoring)
    raw_grams = dsir._hashed_ngram_buckets(
        raw.select("doc_id", "text"), "text", 2, 1000
    ).select("doc_id", "bucket").persist()
    model, default = dsir.dsir_log_ratio_model(
        target, raw, buckets=1000, raw_buckets=raw_grams
    )
    return dsir.with_dsir_weight(
        raw, model, default, buckets=1000, grams=raw_grams
    ).select("doc_id", "n_grams", "dsir_logw")


SQL_DSIR_WEIGHTS = f"""
WITH w0 AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id, source,
         unnest(
           words || list_transform(
             range(1, greatest(len(words) - 1, 0) + 1),
             i -> array_to_string(list_slice(words, CAST(i AS INTEGER), CAST(i + 1 AS INTEGER)), ' ')
           )
         ) AS gram
  FROM w0
),
b AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % 1000 AS bucket
  FROM g
),
tc AS (SELECT bucket, COUNT(*) AS tc FROM b WHERE source = 'src0' GROUP BY bucket),
rc AS (SELECT bucket, COUNT(*) AS rc FROM b WHERE source <> 'src0' GROUP BY bucket),
tot AS (
  SELECT (SELECT CAST(COALESCE(SUM(tc), 0) AS DOUBLE) FROM tc) AS n_t,
         (SELECT CAST(COALESCE(SUM(rc), 0) AS DOUBLE) FROM rc) AS n_r
),
model AS (
  SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
         ln((COALESCE(tc, 0) + 1.0) / (n_t + 1000.0))
         - ln((COALESCE(rc, 0) + 1.0) / (n_r + 1000.0)) AS log_ratio
  FROM tc FULL JOIN rc ON tc.bucket = rc.bucket, tot
),
scored AS (
  SELECT b.doc_id,
         COALESCE(m.log_ratio,
                  (SELECT ln(1.0 / (n_t + 1000.0)) - ln(1.0 / (n_r + 1000.0)) FROM tot)
         ) AS lr
  FROM b JOIN (SELECT DISTINCT doc_id FROM documents WHERE source <> 'src0') r USING (doc_id)
         LEFT JOIN model m USING (bucket)
  WHERE b.source <> 'src0'
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, ROUND(SUM(lr), 4) AS dsir_logw
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.dsir_logw, 0.0) AS dsir_logw
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN agg a USING (doc_id)
"""


def q_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-iteration k-means over the embeddings table
    (operators/clustering.py — the SemDeDup partitioning step): md5-seeded
    init, 2 Lloyd iterations with per-iteration centroid rounding, final
    per-vector assignment.  The fit is iterative but every step is
    relational, so the DuckDB oracle UNROLLS it — one CTE chain per
    iteration — rather than settling for a rows-only check."""
    from ..operators import clustering

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = clustering.kmeans_fit(emb, k=4, iters=2, seed=42)
    return clustering.assign_clusters(emb, cents).select(
        "vec_id", "cluster", "dist2"
    )


def _kmeans_oracle_sql(
    k: int,
    iters: int,
    dim: int,
    seed: int,
    v_body: str | None = None,
    final: str = "assign",
    threshold: float = 0.99,
) -> str:
    """Unrolled Lloyd's in DuckDB: c0 = md5-seeded init, then per iteration
    (assign under c_i) -> (per-dim avg, rounded) -> c_{i+1}.  Mirrors
    clustering.kmeans_fit exactly: d2 rounded to 8 before the argmin (ties
    to lowest cid), centroids rounded to 6, empty clusters keep their
    previous centroid.  `v_body` overrides the input CTE (e.g. a
    dup-injected corpus); `final` picks the output — the assignment
    ('assign') or the SemDeDup within-cluster cosine pairs ('pairs')."""
    d2 = (
        "ROUND(list_sum(list_transform(range(1, {dim1}), "
        "i -> (vec[CAST(i AS INTEGER)] - cvec[CAST(i AS INTEGER)]) "
        "* (vec[CAST(i AS INTEGER)] - cvec[CAST(i AS INTEGER)]))), 8)"
    ).format(dim1=dim + 1)
    if v_body is None:
        v_body = (
            "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec"
            "\n  FROM embeddings"
        )
    parts = [
        "WITH v AS (",
        f"  {v_body}",
        "),",
        "c0 AS (",
        "  SELECT ROW_NUMBER() OVER (ORDER BY md5(vec_id || ':{seed}'), vec_id) - 1 AS cid,".format(seed=seed),
        "         list_transform(vec, x -> ROUND(x, 6)) AS cvec",
        "  FROM v ORDER BY md5(vec_id || ':{seed}'), vec_id LIMIT {k}".format(seed=seed, k=k),
        "),",
    ]
    for it in range(iters):
        parts += [
            f"s{it} AS (",
            f"  SELECT v.vec_id, c.cid, {d2} AS d2",
            f"  FROM v CROSS JOIN c{it} c",
            "),",
            f"a{it} AS (",
            "  SELECT vec_id, cid, d2 FROM (",
            "    SELECT vec_id, cid, d2,",
            "           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn",
            f"    FROM s{it})",
            "  WHERE rn = 1",
            "),",
            f"u{it} AS (",
            f"  SELECT a.cid, i.i AS dim, v.vec[CAST(i.i AS INTEGER)] AS val",
            f"  FROM a{it} a JOIN v USING (vec_id)",
            f"       CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) i",
            "),",
            f"m{it} AS (",
            "  SELECT cid, list(ROUND(m, 6) ORDER BY dim) AS cv FROM (",
            f"    SELECT cid, dim, AVG(val) AS m FROM u{it} GROUP BY cid, dim)",
            "  GROUP BY cid",
            "),",
            f"c{it + 1} AS (",
            f"  SELECT c.cid, COALESCE(m.cv, c.cvec) AS cvec",
            f"  FROM c{it} c LEFT JOIN m{it} m USING (cid)",
            "),",
        ]
    parts += [
        "fin AS (",
        f"  SELECT v.vec_id, c.cid, {d2} AS d2",
        f"  FROM v CROSS JOIN c{iters} c",
        "),",
        "afin AS (",
        "  SELECT vec_id, cid, d2 FROM (",
        "    SELECT vec_id, cid, d2,",
        "           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn",
        "    FROM fin)",
        "  WHERE rn = 1",
        ")",
    ]
    if final == "assign":
        parts += [
            "SELECT vec_id, CAST(cid AS INTEGER) AS cluster, ROUND(d2, 4) AS dist2",
            "FROM afin",
        ]
    else:
        parts += [
            "SELECT a.vec_id AS doc_id, b.vec_id AS dup_id,",
            "       ROUND(list_cosine_similarity(av.vec, bv.vec), 4) AS cosine",
            "FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id",
            "JOIN v av ON av.vec_id = a.vec_id",
            "JOIN v bv ON bv.vec_id = b.vec_id",
            f"WHERE ROUND(list_cosine_similarity(av.vec, bv.vec), 4) >= {threshold}",
        ]
    return "\n".join(parts)


SQL_SEMANTIC_CLUSTER = _kmeans_oracle_sql(k=4, iters=2, dim=64, seed=42)

# dup-injected corpus for the SemDeDup pairs oracle: every 53rd vector gets
# a near-identical twin (first coordinate nudged by 1e-4) — mirrored by
# q_semdedup's Spark-side injection
_SEMDEDUP_V_BODY = """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_prepend(v[1] + 0.0001, v[2:]) AS vec
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  WHERE vec_id % 53 = 0"""

SQL_SEMDEDUP = _kmeans_oracle_sql(
    k=4, iters=2, dim=64, seed=42, v_body=_SEMDEDUP_V_BODY, final="pairs",
    threshold=0.99,
)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup within-cluster cosine pairs (clustering.semdedup_pairs) on
    a dup-injected embeddings corpus: fit the same deterministic k-means,
    then pair cosine ≥ 0.99 INSIDE clusters only — the oracle unrolls the
    fit and replays the cluster-partitioned self-join."""
    from ..operators import clustering

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dups = emb.filter(F.col("vec_id") % 53 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.0001)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(dups)
    cents = clustering.kmeans_fit(corpus, k=4, iters=2, seed=42)
    return clustering.semdedup_pairs(corpus, cents, threshold=0.99)


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc cap (operators/corpus.py): keep ≤15 docs per source
    by deterministic md5-uniform shuffle — per-source kept counts + id
    digest verify the exact selection."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    capped = corpus_ops.cap_per_group(docs, max_per_group=15, seed=42)
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


SQL_CAP_PER_GROUP = """
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substr(md5(doc_id || ':42'), 1, 8)) AS BIGINT),
                    doc_id
         ) AS rn
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rn <= 15 GROUP BY source
"""


SQL_MIX_SOURCES = """
WITH rates(source, rate) AS (
  VALUES ('src1', 0.9), ('src3', 0.5), ('src5', 0.25), ('src7', 0.1)
),
mixed AS (
  SELECT d.source, d.n_chars
  FROM documents d JOIN rates r USING (source)
  WHERE (CAST(concat('0x', substr(md5(d.doc_id || ':42'), 1, 8)) AS BIGINT) % 1000000)
        / 1000000.0 < r.rate
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM mixed GROUP BY source
"""


# ---------------------------------------------------------------------------
# round-5 additions: exact substring dedup (Lee et al. 2021) + linear
# quality-classifier scoring (fastText/CCNet shape)
# ---------------------------------------------------------------------------


def _docs_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned for the single-file local layout (see
    q_repetition_stats — at corpus scale the input splits provide this)."""
    from .curation import input_partitions

    return _read(spark, sf_dir, "documents").repartition(input_partitions(spark))


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators/corpus.py
    duplicate_spans / dup_span_stats): word 8-grams occurring >= 2 times
    corpus-wide mark their words duplicated; overlapping marks merge into
    maximal spans, rolled up per doc."""
    from ..operators import corpus as corpus_ops

    return corpus_ops.dup_span_stats(_docs_partitioned(spark, sf_dir), n=8)


# CTE chain mirrors the operator stage-for-stage: positioned md5 8-grams →
# window frequency count → dup marks → running-max island merge → rollup.
SQL_DUP_SPANS = f"""
WITH warr AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS gh
  FROM warr, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS c FROM grams),
dup AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM cnt WHERE c >= 2),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS nf
  FROM dup
),
isl AS (
  SELECT doc_id, s, e,
         SUM(nf) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id, island, MIN(s) AS span_start, MAX(e) AS span_end
  FROM isl GROUP BY doc_id, island
)
SELECT m.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_words,
       CAST(ANY_VALUE(len(w.w)) AS BIGINT) AS n_words,
       ROUND(SUM(span_end - span_start + 1) * 1.0
             / GREATEST(ANY_VALUE(len(w.w)), 1), 4) AS dup_frac
FROM merged m JOIN warr w USING (doc_id)
GROUP BY m.doc_id
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-cut rebuild (operators/corpus.py remove_duplicate_spans):
    every doc's text with duplicated spans removed — compared by md5 of the
    rebuilt text so the hash gate checks the full rewritten corpus without
    hauling text through the result set."""
    from ..operators import corpus as corpus_ops

    cleaned = corpus_ops.remove_duplicate_spans(
        _docs_partitioned(spark, sf_dir), n=8
    )
    return cleaned.select(
        "doc_id", "n_words_kept", F.md5("text").alias("clean_md5")
    )


SQL_SUBSTRING_DEDUP = f"""
WITH warr AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i:i+7], ' ')) AS gh
  FROM warr, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS c FROM grams),
dup AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM cnt WHERE c >= 2),
cov AS (SELECT DISTINCT doc_id, j AS idx FROM dup, UNNEST(generate_series(s, e)) AS t(j)),
words AS (
  SELECT doc_id, i AS idx, w[i] AS word
  FROM warr, UNNEST(generate_series(1, len(w))) AS t(i)
),
kept AS (
  SELECT wo.doc_id, wo.idx, wo.word
  FROM words wo LEFT JOIN cov ON wo.doc_id = cov.doc_id AND wo.idx = cov.idx
  WHERE cov.doc_id IS NULL
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words_kept,
         md5(string_agg(word, ' ' ORDER BY idx)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(r.n_words_kept, 0) AS n_words_kept,
       COALESCE(r.clean_md5, md5('')) AS clean_md5
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier scoring (functions/textanalysis.py
    classifier_score): sigmoid(mean md5-uniform token weight) per doc —
    the fastText-style quality cut, map-side with no model join."""
    from ..functions import textanalysis

    return textanalysis.classifier_score(_docs_partitioned(spark, sf_dir))


SQL_CLASSIFIER_SCORE = f"""
WITH toks AS (
  SELECT doc_id, t AS token
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '')) AS u(t)
),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         AVG(((CAST(concat('0x', substr(md5('w:42:' || token), 1, 8)) AS BIGINT) % 1000000)
             / 1000000.0) * 2 - 1) AS z
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-(0.0 + COALESCE(s.z, 0.0)))), 4) AS score
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-temperature source sampling (operators/corpus.py temperature_mix,
    Lample & Conneau 2019): rates derived from the corpus's own source
    shares at α=0.5, overall keep fraction 0.5; per-source kept rollup
    (mirrors the mix_sources result shape)."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    mixed = corpus_ops.temperature_mix(docs, alpha=0.5, frac=0.5)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
    )


SQL_TEMPERATURE_MIX = """
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
rates AS (
  SELECT source,
         ROUND(LEAST(1.0,
               (power(n_s, 0.5) / SUM(power(n_s, 0.5)) OVER ())
               * SUM(n_s) OVER () * 0.5 / n_s), 6) AS rate
  FROM counts
),
mixed AS (
  SELECT d.source, d.n_chars
  FROM documents d JOIN rates r USING (source)
  WHERE (CAST(concat('0x', substr(md5(d.doc_id || ':42'), 1, 8)) AS BIGINT) % 1000000)
        / 1000000.0 < r.rate
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM mixed GROUP BY source
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split (functions/textanalysis.py
    perplexity_buckets over the same unigram-LM fit as lm_score): exact
    tercile cutoffs from one aggregate pass, map-side tier tagging;
    per-tier rollup consumes bucket, scores and counts."""
    from ..functions import textanalysis

    docs = _read(spark, sf_dir, "documents")
    ref = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    lm = textanalysis.unigram_model(ref, max_features=20)
    scored = textanalysis.with_unigram_logprob(
        corpus, lm.model, lm.oov_logp, model_rows=lm.rows
    ).select("doc_id", "n_tokens", "avg_logprob")
    tiers = textanalysis.perplexity_buckets(scored)
    return tiers.groupBy("bucket", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("avg_logprob"), 4).alias("sum_logprob"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# composes over the lm_score oracle verbatim: same fit, same zero-token
# LEFT JOIN semantics; cutoffs are ROUND(quantile,4) with <= ties going to
# the lower-quality bucket, mirroring the operator's contract exactly
SQL_PERPLEXITY_BUCKETS_TEMPLATE = """
WITH scored AS ({lm_sql}),
cuts AS (
  SELECT ROUND(quantile_cont(avg_logprob, 1.0/3), 4) AS c1,
         ROUND(quantile_cont(avg_logprob, 2.0/3), 4) AS c2
  FROM scored
),
tagged AS (
  SELECT s.doc_id, s.n_tokens, s.avg_logprob,
         CASE WHEN s.avg_logprob > c.c2 THEN 1
              WHEN s.avg_logprob > c.c1 THEN 2
              ELSE 3 END AS bucket
  FROM scored s, cuts c
)
SELECT bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(avg_logprob), 4) AS sum_logprob,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM tagged GROUP BY bucket
"""

SQL_PERPLEXITY_BUCKETS = SQL_PERPLEXITY_BUCKETS_TEMPLATE.format(lm_sql=SQL_LM_SCORE)


def q_upsample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch source weighting (operators/corpus.py upsample_sources):
    src1 at 2.5 epochs, src2 at 1.0, src4 at 0.25; per-source rollup of
    emitted rows, distinct docs, and copy-index mass (consumes rep so the
    explode can't be pruned)."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    up = corpus_ops.upsample_sources(
        docs, {"src1": 2.5, "src2": 1.0, "src4": 0.25}
    )
    return up.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum("rep").alias("sum_rep"),
        F.sum("n_chars").alias("sum_chars"),
    )


SQL_UPSAMPLE_SOURCES = """
WITH rates(source, rate) AS (
  VALUES ('src1', 2.5), ('src2', 1.0), ('src4', 0.25)
),
drawn AS (
  SELECT d.doc_id, d.source, d.n_chars,
         (CAST(FLOOR(r.rate) AS INT) +
          CASE WHEN (CAST(concat('0x', substr(md5(d.doc_id || ':42'), 1, 8)) AS BIGINT) % 1000000)
                    / 1000000.0 < r.rate - FLOOR(r.rate) THEN 1 ELSE 0 END) AS nc
  FROM documents d JOIN rates r USING (source)
),
up AS (
  SELECT doc_id, source, n_chars, rep
  FROM drawn, UNNEST(generate_series(0, nc - 1)) AS t(rep)
  WHERE nc >= 1
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(rep) AS BIGINT) AS sum_rep,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM up GROUP BY source
"""


def q_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured benchmark-overlap fractions (operators/corpus.py
    contamination_stats): src0 documents stand in as the benchmark (same
    split as the decontaminate query, word 6-grams); per contaminated doc
    the distinct-gram numerator/denominator and the GPT-3-style fraction."""
    from ..operators import corpus as corpus_ops

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return corpus_ops.contamination_stats(corpus, bench, n=6)


SQL_CONTAMINATION_STATS = f"""
WITH warr AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '{WORD_RE}'), x -> x <> '') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, source, array_to_string(w[i:i+5], ' ') AS ngram
  FROM warr, UNNEST(generate_series(1, len(w) - 5)) AS t(i)
  WHERE len(w) >= 6
),
bench AS (SELECT DISTINCT ngram FROM grams WHERE source = 'src0'),
agg AS (
  SELECT c.doc_id,
         CAST(COUNT(DISTINCT c.ngram) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT CASE WHEN b.ngram IS NOT NULL THEN c.ngram END) AS BIGINT) AS n_shared
  FROM grams c LEFT JOIN bench b USING (ngram)
  WHERE c.source <> 'src0'
  GROUP BY c.doc_id
)
SELECT doc_id, n_shared, n_grams,
       ROUND(n_shared * 1.0 / n_grams, 4) AS contaminated_frac
FROM agg WHERE n_shared > 0
"""


# ---------------------------------------------------------------------------
# bloom membership dedup + BM25 retrieval (engine extensions, r6)
# ---------------------------------------------------------------------------


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact dedup of a shard against the standing
    documents corpus (operators/bloom.bloom_dedup_against, confirm=True):
    every 41st doc contributes one true-duplicate copy (id +1M, same
    text) and one genuinely-new variant (id +2M, text || ' zz').  The
    Bloom filter is a join-input reducer only — output is EXACTLY the
    anti-join (no false negatives; positives are confirm-joined), which
    is what the oracle states."""
    from ..operators import bloom

    docs = _read(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 41 == 0)
    shard = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).unionByName(
        base.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat("text", F.lit(" zz")).alias("text"),
        )
    )
    return bloom.bloom_dedup_against(
        shard, docs.select("text"), "text", fp_rate=1e-3, confirm=True
    )


SQL_BLOOM_DEDUP = """
WITH shard AS (
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 41 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zz' AS text
  FROM documents WHERE doc_id % 41 = 0
)
SELECT s.doc_id, s.text
FROM shard s
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = s.text)
"""


def q_bloom_dedup_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract as q_bloom_dedup but with the filter forced into
    four slices (bloom.bloom_dedup_against(n_slices=4) — the slice-by
    repartition, per-slice merge and per-slice probe files that billions
    of standing keys get; sf0.01 alone would derive one slice).
    Exactness is independent of the slice count: the confirm join
    repairs every false positive, so the output is still EXACTLY the
    anti-join — the oracle is the same statement with a shifted shard
    (ids +3M/+4M, suffix ' ww') so the two rows cannot mask each other."""
    from ..operators import bloom

    docs = _read(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 41 == 0)
    shard = base.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    ).unionByName(
        base.select(
            (F.col("doc_id") + 4_000_000).alias("doc_id"),
            F.concat("text", F.lit(" ww")).alias("text"),
        )
    )
    return bloom.bloom_dedup_against(
        shard, docs.select("text"), "text", fp_rate=1e-3, confirm=True,
        n_slices=4,
    )


SQL_BLOOM_DEDUP_SLICED = """
WITH shard AS (
  SELECT doc_id + 3000000 AS doc_id, text
  FROM documents WHERE doc_id % 41 = 0
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id, text || ' ww' AS text
  FROM documents WHERE doc_id % 41 = 0
)
SELECT s.doc_id, s.text
FROM shard s
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = s.text)
"""


BM25_QUERY = "spark hash join vector"
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/retrieval.bm25_scores) for a fixed
    probe query over the documents corpus: postings/doc-length index,
    Robertson idf, Okapi tf saturation.  Full scored set (no top-k cut)
    so the hash compare is order-free; scores rounded per convention."""
    from ..operators import retrieval

    docs = _read(spark, sf_dir, "documents")
    return retrieval.bm25_scores(
        docs, "doc_id", "text", BM25_QUERY, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", F.round("bm25", 4).alias("bm25"))


SQL_BM25_SEARCH = f"""
WITH {TOKENS_CTE.strip()},
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tokens GROUP BY term, doc_id
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
hits AS (
  SELECT * FROM postings
  WHERE term IN ('spark', 'hash', 'join', 'vector')
),
dfreq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term)
SELECT p.doc_id,
       ROUND(SUM(
         ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
         * (p.tf * ({_BM25_K1} + 1))
         / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
       ), 4) AS bm25
FROM hits p
JOIN dfreq f USING (term)
JOIN dl d USING (doc_id)
CROSS JOIN stats s
GROUP BY p.doc_id
"""


BM25_BATCH = {
    "q_spark": "spark hash join vector",
    "q_cust": "customer order line",
    "q_sort": "merge sort",
}


def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 (operators/retrieval.bm25_batch_scores): three probe
    queries scored in ONE pass over the postings table via a broadcast
    (query_id, term) dim — no per-query driver loop.  Per-query math ≡
    bm25_scores (parity pytest)."""
    from ..operators import retrieval

    docs = _read(spark, sf_dir, "documents")
    return retrieval.bm25_batch_scores(
        docs, "doc_id", "text", BM25_BATCH, k1=_BM25_K1, b=_BM25_B
    ).select("query_id", "doc_id", F.round("bm25", 4).alias("bm25"))


SQL_BM25_BATCH = f"""
WITH {TOKENS_CTE.strip()},
postings AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tokens GROUP BY term, doc_id
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
qmap(query_id, term) AS (VALUES
  ('q_spark', 'spark'), ('q_spark', 'hash'), ('q_spark', 'join'),
  ('q_spark', 'vector'),
  ('q_cust', 'customer'), ('q_cust', 'order'), ('q_cust', 'line'),
  ('q_sort', 'merge'), ('q_sort', 'sort')
),
hits AS (
  SELECT * FROM postings WHERE term IN (SELECT DISTINCT term FROM qmap)
),
dfreq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term)
SELECT q.query_id, p.doc_id,
       ROUND(SUM(
         ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
         * (p.tf * ({_BM25_K1} + 1))
         / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * d.dl / s.avgdl))
       ), 4) AS bm25
FROM hits p
JOIN dfreq f USING (term)
JOIN dl d USING (doc_id)
JOIN qmap q USING (term)
CROSS JOIN stats s
GROUP BY q.query_id, p.doc_id
"""




def q_spine_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table point-in-time spine join (operators/spine — the
    feature-store get_historical_features primitive): a training spine of
    every 3rd turn gets (a) the latest profile purchase and (b) the latest
    click aggregate no staler than 2 h, both leakage-free, in ONE window
    pass (one Exchange + one WindowExec for k tables, plan-pinned).
    DuckDB oracle: two chained ASOF LEFT JOINs + the staleness CASE."""
    from ..operators.spine import FeatureTable, spine_point_in_time

    t = transcripts_df(spark, sf_dir)
    spine = t.filter(F.col("turn_idx") % 3 == 0).select(
        "conv_id", "turn_idx", "ts"
    )
    prof = profile_df(spark, sf_dir)
    ev = _read(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(
            F.concat(F.lit("conv_"), F.col("user_id").cast("string")).alias(
                "conv_id"
            ),
            "ts",
        )
        .agg(
            F.round(F.max("value"), 2).alias("click_value"),
            F.count(F.lit(1)).alias("n_clicks"),
        )
    )
    out = spine_point_in_time(
        spine,
        [
            FeatureTable(prof, "prof"),
            FeatureTable(clicks, "clk", tolerance_s=7200),
        ],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("ts").cast("timestamp").cast("long").alias("ts_ep"),
        F.col("prof_ts").cast("timestamp").cast("long").alias("prof_ts_ep"),
        "prof_purchase_value",
        F.col("clk_ts").cast("timestamp").cast("long").alias("clk_ts_ep"),
        "clk_click_value",
        "clk_n_clicks",
    )


SQL_SPINE_FEATURES = f"""
WITH {TRANSCRIPTS_CTE.strip()},
{PROFILE_CTE.strip()},
clicks AS (
  SELECT 'conv_' || CAST(user_id AS STRING) AS conv_id, ts,
         ROUND(MAX(value), 2) AS click_value,
         CAST(COUNT(*) AS BIGINT) AS n_clicks
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
spine AS (SELECT conv_id, turn_idx, ts FROM transcripts WHERE turn_idx % 3 = 0),
m1 AS (
  SELECT s.conv_id, s.turn_idx, s.ts, p.ts AS pts, p.purchase_value
  FROM spine s
  ASOF LEFT JOIN profile p ON s.conv_id = p.conv_id AND s.ts >= p.ts
),
m2 AS (
  SELECT m1.*, c.ts AS cts, c.click_value, c.n_clicks
  FROM m1
  ASOF LEFT JOIN clicks c ON m1.conv_id = c.conv_id AND m1.ts >= c.ts
)
SELECT conv_id, turn_idx,
       CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_ep,
       CAST(FLOOR(epoch(pts)) AS BIGINT) AS prof_ts_ep,
       purchase_value AS prof_purchase_value,
       CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(cts)) <= 7200
            THEN CAST(FLOOR(epoch(cts)) AS BIGINT) END AS clk_ts_ep,
       CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(cts)) <= 7200
            THEN click_value END AS clk_click_value,
       CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(cts)) <= 7200
            THEN n_clicks END AS clk_n_clicks
FROM m2
"""


def q_line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CCNet line dedup (corpus.dedup_lines_against): a shard
    whose docs hold two standing lines (their source doc's text and the
    next doc's), one per-doc fresh line (the reversed text — unique,
    letters-only normalization preserved), and one shard-wide shared
    boilerplate line.  Expected survivors: the fresh line everywhere and
    the boilerplate once (its first shard occurrence); standing lines
    always drop.  The Bloom filter is a join-input reducer only
    (confirm=True) so the output is exact — the oracle states the
    standing-membership + first-in-shard rule directly."""
    from ..operators import corpus

    docs = _read(spark, sf_dir, "documents")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_t2")
    )
    shard = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .join(nxt, "doc_id", "left")
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.concat_ws(
                "\n",
                F.col("text"),
                F.reverse(F.col("text")),
                F.lit("zz shared fresh boilerplate zz"),
                F.coalesce(F.col("_t2"), F.lit("")),
            ).alias("text"),
        )
    )
    return corpus.dedup_lines_against(
        shard, docs.select("doc_id", "text")
    ).select("doc_id", "text", "n_lines_kept", "n_lines_dropped")


SQL_LINE_DEDUP_INCREMENTAL = """
WITH shard AS (
  SELECT d.doc_id + 5000000 AS doc_id,
         d.text || chr(10) || reverse(d.text) || chr(10)
                || 'zz shared fresh boilerplate zz' || chr(10)
                || COALESCE(n.text, '') AS text
  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
  WHERE d.doc_id % 13 = 0
),
split AS (
  SELECT doc_id,
         unnest(generate_series(1, len(string_split(text, chr(10))))) - 1 AS idx,
         unnest(string_split(text, chr(10))) AS line
  FROM shard
),
lines AS (
  SELECT doc_id, idx, line,
         regexp_replace(lower(line), '[^\\p{L}]+', '', 'g') AS norm
  FROM split
),
st_split AS (
  SELECT unnest(string_split(text, chr(10))) AS line FROM documents
),
standing AS (
  SELECT DISTINCT regexp_replace(lower(line), '[^\\p{L}]+', '', 'g') AS norm
  FROM st_split
),
ranked AS (
  SELECT doc_id, idx, line,
         ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id, idx) AS rn
  FROM lines
  WHERE norm <> '' AND norm NOT IN (SELECT norm FROM standing)
),
kept AS (
  SELECT doc_id, idx, line FROM ranked WHERE rn = 1
  UNION ALL
  SELECT doc_id, idx, line FROM lines WHERE norm = ''
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY idx) AS text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
SELECT s.doc_id,
       COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
       t.n_total - COALESCE(r.n_lines_kept, 0) AS n_lines_dropped
FROM shard s
LEFT JOIN rebuilt r ON r.doc_id = s.doc_id
JOIN totals t ON t.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- rotation discipline: the driver snapshots roughly the first 50
    # entries of this dict per round, so entries whose NEWEST driver-green
    # CORRECTNESS row is OLDEST go FIRST (no entry's freshest row should
    # age past ~2 rounds).  New queries are added at the FRONT (they have
    # no row at all).  r7 order: [new r7 queries] > last green r5
    # (CORRECTNESS_r05.json: the 34 entries outside the r6 window —
    # cluster_split..semdedup tail + the long-green r1-r5 core) > last
    # green r6 (CORRECTNESS_r06.json: the r6-new operators + the
    # token_count..smote and perplexity_buckets..chunk_documents blocks).
    "spine_features": q_spine_features,
    "line_dedup_incremental": q_line_dedup_incremental,
    "bloom_dedup_sliced": q_bloom_dedup_sliced,
    "cluster_split": q_cluster_split,
    "lm_score": q_lm_score,
    "cap_per_group": q_cap_per_group,
    "dsir_weights": q_dsir_weights,
    "semantic_cluster": q_semantic_cluster,
    "semdedup": q_semdedup,
    "scan_filter_project": q_scan_filter_project,
    "union_labeled": q_union_labeled,
    "target_derivation": q_target_derivation,
    "groupby_stats": q_groupby_stats,
    "broadcast_join_agg": q_broadcast_join_agg,
    "topk_vocab": q_topk_vocab,
    "lag_lead": q_lag_lead,
    "backfill": q_backfill,
    "rolling": q_rolling,
    "sessionize": q_sessionize,
    "session_agg": q_session_agg,
    "rolling_time": q_rolling_time,
    "rollup_agg": q_rollup_agg,
    "topk_per_group": q_topk_per_group,
    "percentiles": q_percentiles,
    "asof_join": q_asof_join,
    "asof_tolerance": q_asof_tolerance,
    "decode_profile": q_decode_profile,
    "label_encode": q_label_encode,
    "one_hot": q_one_hot,
    "json_extract": q_json_extract,
    "pivot": q_pivot,
    "cube_agg": q_cube_agg,
    "semi_anti_join": q_semi_anti_join,
    "salted_agg": q_salted_agg,
    "binary_meta": q_binary_meta,
    "dedup_exact": q_dedup_exact,
    "dedup_fuzzy_window": q_dedup_fuzzy_window,
    # --- driver-green in round 6 (CORRECTNESS_r06.json) ---
    "bloom_dedup": q_bloom_dedup,
    "bm25_search": q_bm25_search,
    "bm25_batch": q_bm25_batch,
    "line_dedup": q_line_dedup,
    "dedup_best": q_dedup_best,
    "token_budget": q_token_budget,
    "c4_filter": q_c4_filter,
    "gopher_quality": q_gopher_quality,
    "shard_corpus": q_shard_corpus,
    "media_digest_dedup": q_media_digest_dedup,
    "media_embedding_neardup": q_media_embedding_neardup,
    "dedup_incremental": q_dedup_incremental,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "kfold": q_kfold,
    "stratified_split": q_stratified_split,
    "knn_cosine": q_knn_cosine,
    "bow_counts": q_bow_counts,
    "bow_tfidf": q_bow_tfidf,
    "rant_stats_features": q_rant_stats_features,
    "vectorize_type_ngrams": q_vectorize_type_ngrams,
    "vectorize_pos_tfidf": q_vectorize_pos_tfidf,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "embedding_neardup": q_embedding_neardup,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_fullprobe": q_ann_ivf_fullprobe,
    "ann_lsh_exhaustive": q_ann_lsh_exhaustive,
    "dedup_reference_chain": q_dedup_reference_chain,
    "langid": q_langid,
    "fingerprint": q_fingerprint,
    "smote": q_smote,
    "perplexity_buckets": q_perplexity_buckets,
    "upsample_sources": q_upsample_sources,
    "temperature_mix": q_temperature_mix,
    "contamination_stats": q_contamination_stats,
    "dup_spans": q_dup_spans,
    "substring_dedup": q_substring_dedup,
    "classifier_score": q_classifier_score,
    "hashing_vectorize": q_hashing_vectorize,
    "repetition_stats": q_repetition_stats,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
    "mix_sources": q_mix_sources,
    "mask_pii": q_mask_pii,
    "dedup_cluster": q_dedup_cluster,
    "curation_pipeline": q_curation_pipeline,
    "chunk_documents": q_chunk_documents,
}

ORACLES: dict[str, str] = {
    # rotated to mirror QUERIES order (stalest driver rows first);
    # curation_pipeline is rows-only by design (composite, stages
    # individually oracled below).
    "spine_features": SQL_SPINE_FEATURES,
    "line_dedup_incremental": SQL_LINE_DEDUP_INCREMENTAL,
    "bloom_dedup_sliced": SQL_BLOOM_DEDUP_SLICED,
    "cluster_split": SQL_CLUSTER_SPLIT,
    "lm_score": SQL_LM_SCORE,
    "cap_per_group": SQL_CAP_PER_GROUP,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "semantic_cluster": SQL_SEMANTIC_CLUSTER,
    "semdedup": SQL_SEMDEDUP,
    "scan_filter_project": SQL_SCAN_FILTER_PROJECT,
    "union_labeled": SQL_UNION_LABELED,
    "target_derivation": SQL_TARGET_DERIVATION,
    "groupby_stats": SQL_GROUPBY_STATS,
    "broadcast_join_agg": SQL_BROADCAST_JOIN_AGG,
    "topk_vocab": SQL_TOPK_VOCAB,
    "lag_lead": SQL_LAG_LEAD,
    "backfill": SQL_BACKFILL,
    "rolling": SQL_ROLLING,
    "sessionize": SQL_SESSIONIZE,
    "session_agg": SQL_SESSION_AGG,
    "rolling_time": SQL_ROLLING_TIME,
    "rollup_agg": SQL_ROLLUP_AGG,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "percentiles": SQL_PERCENTILES,
    "asof_join": SQL_ASOF_JOIN,
    "asof_tolerance": SQL_ASOF_TOLERANCE,
    "decode_profile": SQL_DECODE_PROFILE,
    "label_encode": SQL_LABEL_ENCODE,
    "one_hot": SQL_ONE_HOT,
    "json_extract": SQL_JSON_EXTRACT,
    "pivot": SQL_PIVOT,
    "cube_agg": SQL_CUBE_AGG,
    "semi_anti_join": SQL_SEMI_ANTI_JOIN,
    "salted_agg": SQL_SALTED_AGG,
    "binary_meta": SQL_BINARY_META,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_fuzzy_window": SQL_DEDUP_FUZZY_WINDOW,
    # --- driver-green in round 6 (CORRECTNESS_r06.json) ---
    "bloom_dedup": SQL_BLOOM_DEDUP,
    "bm25_search": SQL_BM25_SEARCH,
    "bm25_batch": SQL_BM25_BATCH,
    "line_dedup": SQL_LINE_DEDUP,
    "dedup_best": SQL_DEDUP_BEST,
    "token_budget": SQL_TOKEN_BUDGET,
    "c4_filter": SQL_C4_FILTER,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "shard_corpus": SQL_SHARD_CORPUS,
    "media_digest_dedup": SQL_MEDIA_DIGEST_DEDUP,
    "media_embedding_neardup": SQL_MEDIA_EMBEDDING_NEARDUP,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "token_count": SQL_TOKEN_COUNT,
    "quality_score": SQL_QUALITY_SCORE,
    "kfold": SQL_KFOLD,
    "stratified_split": SQL_STRATIFIED_SPLIT,
    "knn_cosine": SQL_KNN_COSINE,
    "bow_counts": SQL_BOW_COUNTS,
    "bow_tfidf": SQL_BOW_TFIDF,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "embedding_neardup": SQL_EMBEDDING_NEARDUP,
    "ann_ivf_fullprobe": SQL_KNN_COSINE,  # full probe ≡ exact brute force
    "ann_lsh_exhaustive": SQL_KNN_COSINE,  # single bucket ≡ exact brute force
    "dedup_reference_chain": SQL_DEDUP_REFERENCE_CHAIN,
    "langid": SQL_LANGID,
    "fingerprint": SQL_FINGERPRINT,
    "smote": SQL_SMOTE,
    "perplexity_buckets": SQL_PERPLEXITY_BUCKETS,
    "upsample_sources": SQL_UPSAMPLE_SOURCES,
    "temperature_mix": SQL_TEMPERATURE_MIX,
    "contamination_stats": SQL_CONTAMINATION_STATS,
    "dup_spans": SQL_DUP_SPANS,
    "substring_dedup": SQL_SUBSTRING_DEDUP,
    "classifier_score": SQL_CLASSIFIER_SCORE,
    "hashing_vectorize": SQL_HASHING_VECTORIZE,
    "repetition_stats": SQL_REPETITION_STATS,
    "decontaminate": SQL_DECONTAMINATE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "mix_sources": SQL_MIX_SOURCES,
    "mask_pii": SQL_MASK_PII,
    "dedup_cluster": SQL_DEDUP_CLUSTER,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    # rows-only (Arrow-UDF tokenizers / banded-LSH internals / iterative
    # component loops not expressible in ANSI SQL; allclose- or
    # recall-tested in pytest, and every curation_pipeline stage is
    # individually oracled): rant_stats_features, vectorize_type_ngrams,
    # vectorize_pos_tfidf, ann_lsh, ann_ivf, curation_pipeline
}
