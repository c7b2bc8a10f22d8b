"""Relational extension queries: joins, multi-level aggregation, set ops,
deterministic sampling.

The reference has NO joins, set ops, GROUP BY, or DISTINCT aggregation
(SURVEY §2.6 — explicitly absent); a user switching an analytics workload onto
this engine needs them, so they are first-class query keys here. Each one is
written the way it should execute at 100 TB:

- dimension joins broadcast explicitly (`F.broadcast`) — a 25-row nation table
  must never shuffle a 100 TB fact table (plan-pinned in tests/test_plans.py);
- fact-fact joins stay unhinted so Catalyst/AQE picks sort-merge (with skew
  splitting) at scale and hash/broadcast when a side turns out tiny;
- grouped aggregates rely on partial (map-side) aggregation; double sums go
  through DECIMAL(18,6) — exact and associative, so the result is independent
  of partial-agg grouping order AND engine (SURVEY windows.py precedent);
- sampling is hash-deterministic (md5-bucket), never `rand()` — reproducible
  across retries, engines, and cluster sizes, which is what a training-data
  pipeline needs from a sampling operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_job_spark.functions.hashing import md5_u32, md5_u32_duck
from flink_job_spark.operators.spatial import grid_close_pairs
from flink_job_spark.queries import register
from flink_job_spark.sources.tables import load_table

# deterministic per-stratum keep-rates (percent of md5 bucket space)
SAMPLE_RATES: dict[str, int] = {"en": 50, "de": 30, "fr": 30, "es": 30, "zh": 10}
EXCEPT_MOD = 500  # q_set_except: simulated row loss for o_orderkey % MOD == 0


# --- q_join_broadcast: star join, every dimension broadcast ------------------

@register(
    "q_join_broadcast",
    """SELECT r_name,
              COUNT(1) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
       FROM orders
       JOIN customer ON o_custkey = c_custkey
       JOIN nation   ON c_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       GROUP BY r_name""",
    doc="star join orders⋈customer⋈nation⋈region with broadcast dims, "
        "grouped exact-decimal revenue (reference has no joins, SURVEY §2.6)",
    tags=("join", "agg"),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact table joined to three dimensions, each hinted broadcast.

    At 100 TB the orders fact is thousands of partitions; customer/nation/
    region stay MBs. Broadcasting pins a map-side hash join — zero fact
    shuffle before the final single-key aggregation (which partial-aggregates
    map-side to 5 rows per task first).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
         .groupBy("r_name")
         .agg(
             F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
              .cast("double").alias("total_price"),
         )
    )


# --- q_join_shuffle: fact-fact equi-join, Catalyst-chosen strategy -----------

@register(
    "q_join_shuffle",
    """SELECT o_orderpriority,
              COUNT(1) AS n_lines,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
    doc="large-large equi-join lineitem⋈orders, grouped discounted revenue; "
        "unhinted so AQE picks sort-merge w/ skew split at scale",
    tags=("join", "agg"),
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides scale with the data → no broadcast hint; Catalyst/AQE picks
    sort-merge (both sides shuffle on the join key once) and can split skewed
    keys at runtime. The per-row revenue product is a single IEEE multiply —
    identical in any engine — then summed exactly as DECIMAL(18,6)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
          .groupBy("o_orderpriority")
          .agg(
              F.count(F.lit(1)).alias("n_lines"),
              F.sum(revenue.cast("decimal(18,6)")).cast("double").alias("revenue"),
          )
    )


# --- q_agg_rollup: hierarchical aggregation (event_type → day → total) -------

@register(
    "q_agg_rollup",
    """SELECT event_type,
              date_trunc('day', CAST(ts AS TIMESTAMP)) AS event_day,
              CAST(GROUPING(event_type, date_trunc('day', CAST(ts AS TIMESTAMP)))
                   AS BIGINT) AS gid,
              COUNT(1) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events
       GROUP BY ROLLUP(event_type, date_trunc('day', CAST(ts AS TIMESTAMP)))""",
    doc="ROLLUP(event_type, day): per-day, per-type subtotals and grand total "
        "in one pass (reference has no GROUP BY at all, SURVEY §2.6)",
    tags=("agg", "rollup"),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle produces all three aggregation levels; Spark expands the
    grouping sets before the exchange and still partial-aggregates map-side,
    so the shuffle carries ≤ (types × days × 3) rows per task, not the data."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_day", F.date_trunc("day", F.col("ts"))
    )
    return (
        e.rollup("event_type", "event_day")
         .agg(
             F.grouping_id().cast("bigint").alias("gid"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)"))
              .cast("double").alias("sum_value"),
         )
         .select("event_type", "event_day", "gid", "n_events", "sum_value")
    )


# --- q_distinct_agg: exact COUNT(DISTINCT) per group -------------------------

@register(
    "q_distinct_agg",
    """SELECT event_type,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
              COUNT(1) AS n_events
       FROM events
       GROUP BY event_type""",
    doc="grouped exact distinct aggregation (two-phase: distinct expand then "
        "final agg); the approx twin is q_approx_distinct",
    tags=("agg", "distinct"),
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark plans COUNT(DISTINCT) as partial-dedup on (event_type, user_id)
    before the final count — the shuffle carries distinct pairs, not events.
    At 100 TB with huge per-group cardinality, switch to q_approx_distinct
    (HLL) — same output shape, bounded memory."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
         .agg(
             F.countDistinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"),
         )
    )


# --- q_set_except: multiset row-level diff (EXCEPT ALL) ----------------------

@register(
    "q_set_except",
    f"""SELECT * FROM orders
        EXCEPT ALL
        SELECT * FROM orders WHERE o_orderkey % {EXCEPT_MOD} <> 0""",
    doc="row-level multiset diff via exceptAll — the generalization of the "
        "reference's count-delta audit (mis:1288) to row granularity",
    tags=("setop", "audit"),
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference audits source-vs-target by COUNT delta then drills to the
    first bad row (SURVEY §2.6: 'poor-man's EXCEPT-cardinality'). exceptAll is
    the scalable row-level version: one hash-partition of each side on the
    full row, per-key count subtraction — no driver loop. The deterministic
    `% {EXCEPT_MOD}` target models rows lost by a partial load."""
    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % EXCEPT_MOD != 0)
    return o.exceptAll(target)


# --- q_stratified_sample: deterministic hash-bucket sampling per stratum -----

def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in SAMPLE_RATES.items()
    )
    return f"CASE lang {whens} ELSE 0 END"


def _rate_case_col() -> F.Column:
    expr = F.lit(0)
    for lang, pct in SAMPLE_RATES.items():
        expr = F.when(F.col("lang") == lang, pct).otherwise(expr)
    return expr


@register(
    "q_stratified_sample",
    f"""SELECT doc_id, lang, source, n_chars,
               {md5_u32_duck("CAST(doc_id AS VARCHAR)")}
                 % 100 AS sample_bucket
        FROM documents
        WHERE {md5_u32_duck("CAST(doc_id AS VARCHAR)")}
                 % 100 < {_rate_case_sql()}""",
    doc="per-language stratified sample via deterministic md5 bucket — "
        "reproducible across engines/retries/cluster sizes (never rand())",
    tags=("sample", "filter"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data downsampling: keep `SAMPLE_RATES[lang]`% of each language
    stratum, selected by the first 32 bits of md5(doc_id) — a pure map-side
    filter (no shuffle, no state, plan-pinned), so at 100 TB it rides the scan.
    Unlike df.sample(), reruns and speculative tasks pick identical rows."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_u32(F.col("doc_id").cast("string")) % 100
    return (
        d.withColumn("sample_bucket", bucket)
         .filter(F.col("sample_bucket") < _rate_case_col())
         .select("doc_id", "lang", "source", "n_chars", "sample_bucket")
    )


# --- q_group_sample: deterministic fixed-size per-group sample ----------------------

GROUP_SAMPLE_K = 20

@register(
    "q_group_sample",
    f"""SELECT event_type, event_id, CAST(rk AS BIGINT) AS rk FROM (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
      FROM events
    ) WHERE rk <= {GROUP_SAMPLE_K}""",
    doc=f"deterministic per-group sample: exactly {GROUP_SAMPLE_K} rows per "
        "group ranked by md5(id) — a seedless reservoir that is identical "
        "across retries, engines, and partitionings",
    tags=("sampling",),
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size-per-group sampling without rand(): rank rows inside each
    group by md5 of their id (uniform, deterministic) and keep the first k.
    Spark plans a WindowGroupLimit, which truncates EACH MAP PARTITION to its
    local top-k before the shuffle — so at 100 TB the exchange carries
    ~k·partitions rows per group, not the group's full contents (pinned in
    tests/test_plans.py)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id")
    return (
        e.select("event_type", "event_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= GROUP_SAMPLE_K)
    )


# --- q_skew_salted_agg: two-phase salted aggregation over a hot key ------------------

SALT_N = 16

@register(
    "q_skew_salted_agg",
    """SELECT l_returnflag,
              CAST(COUNT(1) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY l_returnflag""",
    doc="two-phase salted aggregation over a 3-value (maximally hot) grouping "
        "key: phase 1 shuffles (key, salt) shards, phase 2 merges ~16 rows "
        "per key — answers identical to a plain GROUP BY (the oracle)",
    tags=("skew", "agg"),
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem grouped by l_returnflag — 3 distinct values over 600k rows at
    sf0.1, the structural hot-key worst case. The salted plan bounds any one
    reducer's load to |key|/16 regardless of skew; decimal sums keep the
    two-phase merge exact (double sums would change with shard boundaries),
    so the result is bit-equal to the oracle's single GROUP BY."""
    from flink_job_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li, ["l_returnflag"], tiebreak_col="l_orderkey",
        aggs={
            "n_rows": F.count(F.lit(1)),
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,6)")),
        },
        n_salts=SALT_N,
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
    )


# --- q_anti_join / q_semi_join: existence joins -------------------------------

ANTI_PRIORITY = "1-URGENT"

@register(
    "q_anti_join",
    f"""SELECT c_custkey, c_name, c_acctbal FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '{ANTI_PRIORITY}')""",
    doc="left anti join: customers with no urgent orders (NOT EXISTS with a "
        "pushed filter on the probe side). Output is bounded by the left "
        "side regardless of orders volume",
    tags=("join", "setop"),
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`left_anti` keeps only build-side keys; the priority filter and the
    o_custkey projection both push into the orders scan, so the shuffle
    carries filtered distinct-ish keys, not 100 TB of order rows. AQE turns
    it into a broadcast anti join whenever the filtered key side fits."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == ANTI_PRIORITY)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
         .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "q_semi_join",
    """SELECT c_custkey, c_mktsegment FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    doc="left semi join: customers with at least one order (EXISTS) — "
        "match-existence only, never a row-multiplying join",
    tags=("join", "setop"),
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`left_semi` short-circuits on first match: no duplicate explosion when
    a customer has thousands of orders, and only the join key is read from
    the orders scan (column pruning pinned in tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
         .select("c_custkey", "c_mktsegment")
    )


# --- q_cube_agg: two-dimensional CUBE with grand/margin totals -----------------

@register(
    "q_cube_agg",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              COUNT(1) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
       FROM orders
       GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    doc="CUBE(status, priority): all four grouping sets (cells, two margins, "
        "grand total) in one shuffle — completes the ROLLUP coverage of "
        "q_agg_rollup",
    tags=("agg", "rollup"),
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark expands the 4 grouping sets BEFORE the exchange and still
    partial-aggregates map-side, so the shuffle carries at most
    |statuses×priorities|·4 rows per task — independent of fact size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
         .agg(
             F.grouping_id().cast("bigint").alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
              .cast("double").alias("total_price"),
         )
         .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price")
    )


# --- q_histogram: fixed-width bucketed value distribution ----------------------

HIST_WIDTH = 30000.0   # price-bucket width; fixed literal so the plan is one pass
HIST_LAST = 19         # values beyond lo + 20*width clamp into the last bucket

@register(
    "q_histogram",
    f"""SELECT LEAST(CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS BIGINT), {HIST_LAST}) AS bucket,
               COUNT(1) AS n_orders,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price
        FROM orders GROUP BY 1""",
    doc="fixed-width histogram of order value: single-pass map-side bucket "
        "assignment + tiny aggregation (bucket bounds are literals, so no "
        "extra min/max pass over the data)",
    tags=("agg", "stats"),
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing uses one double divide + floor per row (identical IEEE op in
    every engine — no width_bucket builtin, whose boundary semantics differ);
    the shuffle then carries ≤20 partial rows per task. min/max are
    order-independent, so no decimal detour is needed."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(HIST_WIDTH)), F.lit(HIST_LAST)
    ).cast("bigint")
    return (
        o.groupBy(bucket.alias("bucket"))
         .agg(
             F.count(F.lit(1)).alias("n_orders"),
             F.min("o_totalprice").alias("min_price"),
             F.max("o_totalprice").alias("max_price"),
         )
    )


# --- q_json_extract: semi-structured payload parsing ---------------------------

@register(
    "q_json_extract",
    """SELECT event_type,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
              CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
              COUNT(1) AS n_events
       FROM events GROUP BY event_type""",
    doc="JSON payload extraction: parse the props column with a declared "
        "schema (from_json), aggregate the extracted field — malformed "
        "payloads surface as NULL, counted not crashed",
    tags=("json", "agg"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`from_json` with an explicit schema is JVM-side Jackson parsing — one
    pass, no Python, and unparseable rows become NULL structs (errors as
    data). At 100 TB the parse rides the scan; the aggregation shuffle
    carries |event_type| partial rows."""
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        e.select("event_type", k.alias("k"))
         .groupBy("event_type")
         .agg(
             F.sum("k").alias("sum_k"),
             F.max("k").alias("max_k"),
             F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_bad"),
             F.count(F.lit(1)).alias("n_events"),
         )
    )


# --- q_incr_agg_merge: incremental aggregate maintenance (merge, not recompute) -----

INCR_SPLIT = "2024-01-16 00:00:00"   # history/delta boundary in the events table

@register(
    "q_incr_agg_merge",
    """SELECT user_id,
              COUNT(1) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events GROUP BY user_id""",
    doc="incremental aggregate maintenance: pre-aggregated history state + "
        "delta partial aggregate merged by key — the oracle recomputes from "
        "scratch, proving merge ≡ recompute (decimal partials are exact and "
        "associative)",
    tags=("agg", "incremental"),
)
def q_incr_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view pattern a 100 TB pipeline needs: yesterday's
    per-key state (n, decimal sum) is merged with today's delta partials via
    a full-outer key join — cost scales with |delta| + |state|, never with
    history row count. Both aggregations hash-partition on user_id with the
    same partitioning, so the merge join plans exchange-free reuse. Double
    sums would NOT be mergeable (order-dependent); the decimal detour is what
    makes state + delta ≡ recompute bit-for-bit."""
    import datetime as dt

    split = F.lit(dt.datetime.fromisoformat(INCR_SPLIT)).cast("timestamp_ntz")
    e = load_table(spark, sf_dir, "events")

    def agg(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias(n),
            F.sum(F.col("value").cast("decimal(18,6)")).alias(s),
        )

    state = agg(e.filter(F.col("ts") < split), "n0", "s0")
    delta = agg(e.filter(F.col("ts") >= split), "n1", "s1")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        state.join(delta, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("n1"), F.lit(0)))
              .cast("long").alias("n_events"),
            (F.coalesce(F.col("s0"), zero) + F.coalesce(F.col("s1"), zero))
              .cast("double").alias("sum_value"),
        )
    )


# --- q_zorder_layout: Morton (Z-order) interleaved clustering key -------------------

ZORDER_BITS = 10
ZORDER_EPOCH = "1992-01-01"

def _morton_terms(x: str, y: str) -> str:
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "q_zorder_layout",
    f"""WITH d AS (
          SELECT o_orderkey,
                 CAST(o_custkey & {(1 << ZORDER_BITS) - 1} AS BIGINT) AS zx,
                 CAST(date_diff('day', DATE '{ZORDER_EPOCH}', CAST(o_orderdate AS DATE))
                      & {(1 << ZORDER_BITS) - 1} AS BIGINT) AS zy
          FROM orders
        )
        SELECT o_orderkey, CAST({_morton_terms('zx', 'zy')} AS BIGINT) AS zkey
        FROM d""",
    doc="Z-order (Morton) clustering key: bit-interleave (custkey, order-day) "
        "so sorting by zkey co-locates rows close in BOTH dimensions — the "
        "layout trick behind multi-column data skipping",
    tags=("layout", "zorder"),
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only bit arithmetic (20 shift/mask terms, one codegen projection).
    At 100 TB the layout job is: compute zkey, repartitionByRange(zkey), and
    sortWithinPartitions before the write — then min/max file stats prune on
    BOTH custkey and date predicates instead of only the leading sort
    column."""
    o = load_table(spark, sf_dir, "orders")
    mask = (1 << ZORDER_BITS) - 1
    zx = F.col("o_custkey").bitwiseAND(mask)
    zy = F.datediff(F.col("o_orderdate").cast("date"),
                    F.lit(ZORDER_EPOCH).cast("date")).cast("long").bitwiseAND(mask)
    zkey = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        zkey = zkey + F.shiftleft(F.shiftright(zx, i).bitwiseAND(1), 2 * i)
        zkey = zkey + F.shiftleft(F.shiftright(zy, i).bitwiseAND(1), 2 * i + 1)
    return o.select("o_orderkey", zkey.cast("long").alias("zkey"))


# --- q_quality_gate: declarative data-quality expectations in one pass per table -----

@register(
    "q_quality_gate",
    """WITH o AS (
      SELECT 'orderkey_unique' AS rule, COUNT(1) AS n_checked,
             COUNT(1) - COUNT(DISTINCT o_orderkey) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'custkey_not_null', COUNT(1), COUNT(1) - COUNT(o_custkey)
      FROM orders
      UNION ALL
      SELECT 'totalprice_positive', COUNT(1),
             COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0)
      FROM orders
      UNION ALL
      SELECT 'orderdate_in_range', COUNT(1),
             COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                                 OR o_orderdate >= TIMESTAMP '2030-01-01'
                               THEN 1 ELSE 0 END), 0)
      FROM orders
      UNION ALL
      SELECT 'quantity_in_range', COUNT(1),
             COALESCE(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                               THEN 1 ELSE 0 END), 0)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_fk_orders', COUNT(1),
             COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
    FROM o""",
    doc="declarative data-quality gate: six expectation rules (uniqueness, "
        "completeness, value ranges, referential integrity) evaluated as "
        "single-pass aggregates and one FK probe — the Deequ-style "
        "admission check run before any snapshot is published",
    tags=("relational", "audit", "pipeline"),
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four orders rules ride ONE aggregation pass (one scan, one
    reduce); the two lineitem rules share a second scan, with referential
    integrity as a broadcast-right left join when the parent key side fits
    (at 100 TB: a shuffled left join — the rule count never adds scans, a
    new expectation is one more conditional aggregate in the same pass).
    This is the same one-pass-many-aggregates discipline as
    q_profile_table, extended with cross-table FK coverage; the reference's
    COUNT+hash consistency audit (mis:1413-1466) is the two-rule special
    case of this gate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    viol = lambda c: F.coalesce(F.sum(c.cast("int")), F.lit(0))  # noqa: E731
    n = F.count(F.lit(1))

    orders_rules = o.agg(
        n.alias("_n"),
        (n - F.countDistinct("o_orderkey")).alias("orderkey_unique"),
        (n - F.count("o_custkey")).alias("custkey_not_null"),
        viol(F.col("o_totalprice") <= 0).alias("totalprice_positive"),
        viol((F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
             | (F.col("o_orderdate") >= F.lit("2030-01-01").cast("timestamp"))
             ).alias("orderdate_in_range"),
    ).persist()  # 1 row; without the barrier every unpivot branch rescans orders
    li_rules = (
        li.join(F.broadcast(o.select("o_orderkey")), li["l_orderkey"] == o["o_orderkey"], "left")
          .agg(
              n.alias("_n"),
              viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50))
                .alias("quantity_in_range"),
              viol(F.col("o_orderkey").isNull()).alias("lineitem_fk_orders"),
          )
    ).persist()

    def unpivot(df, rules):
        parts = []
        for r in rules:
            parts.append(df.select(
                F.lit(r).alias("rule"),
                F.col("_n").cast("bigint").alias("n_checked"),
                F.col(r).cast("bigint").alias("n_violations")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    rules = unpivot(orders_rules, ["orderkey_unique", "custkey_not_null",
                                   "totalprice_positive", "orderdate_in_range"]
                    ).unionByName(
        unpivot(li_rules, ["quantity_in_range", "lineitem_fk_orders"]))
    return rules.select(
        "rule", "n_checked", "n_violations",
        F.when(F.col("n_violations") == 0, F.lit(1)).otherwise(F.lit(0))
         .cast("int").alias("passed"))


# --- TPC-H classics, adapted to the testdata schema ---------------------------------
# Q1 / Q6 / Q3-style: the three canonical OLAP shapes (wide aggregate scan,
# selective single-pass sum, join + top-k) every warehouse engine is judged
# on. Product expressions are parenthesized identically in both engines;
# sums ride VARCHAR-hopped decimal detours and are rounded to scale 4 in the
# decimal domain before the final double cast (see q_linreg_moments for why).

_VDEC = "CAST(CAST(CAST({x} AS DOUBLE) AS VARCHAR) AS DECIMAL(38,10))"
_OUT4 = "CAST(CAST(ROUND({s}, 4) AS DECIMAL(38,4)) AS DOUBLE)"


def _vdec_col(c):
    """Spark twin of _VDEC: double expr -> exact decimal via Java repr."""
    return c.cast("double").cast("decimal(38,10)")


def _out4_col(s):
    """Spark twin of _OUT4: exact decimal sum -> scale-4 -> double."""
    return F.round(s, 4).cast("decimal(38,4)").cast("double")


@register(
    "q_pricing_summary",
    f"""SELECT l_returnflag, l_linestatus,
           {_OUT4.format(s='SUM(CAST(l_quantity AS DECIMAL(18,6)))')} AS sum_qty,
           {_OUT4.format(s='SUM(CAST(l_extendedprice AS DECIMAL(18,6)))')} AS sum_base_price,
           {_OUT4.format(s=f"SUM({_VDEC.format(x='l_extendedprice * (1 - l_discount)')})")} AS sum_disc_price,
           {_OUT4.format(s=f"SUM({_VDEC.format(x='(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')})")} AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(1) AS DOUBLE), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(1) AS DOUBLE), 6) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(1) AS DOUBLE), 6) AS avg_disc,
           CAST(COUNT(1) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus""",
    doc="TPC-H Q1 pricing summary: the canonical wide-aggregate scan — "
        "eight aggregates over a date-filtered lineitem in one pass, "
        "grouped by return flag and line status",
    tags=("relational", "agg", "tpch"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan, one combine-enabled shuffle to 6 groups carrying all eight
    partials; the shipdate filter pushes to the parquet scan. disc_price
    and charge are fixed two/three-op IEEE trees — identical parenthesization
    in the oracle — then exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,6)")
    price = F.col("l_extendedprice").cast("decimal(18,6)")
    disc = F.col("l_discount").cast("decimal(18,6)")
    disc_price = _vdec_col(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    charge = _vdec_col(
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
        * (F.lit(1) + F.col("l_tax")))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
              _out4_col(F.sum(qty)).alias("sum_qty"),
              _out4_col(F.sum(price)).alias("sum_base_price"),
              _out4_col(F.sum(disc_price)).alias("sum_disc_price"),
              _out4_col(F.sum(charge)).alias("sum_charge"),
              F.round(F.sum(qty).cast("double") / n.cast("double"), 6)
               .alias("avg_qty"),
              F.round(F.sum(price).cast("double") / n.cast("double"), 6)
               .alias("avg_price"),
              F.round(F.sum(disc).cast("double") / n.cast("double"), 6)
               .alias("avg_disc"),
              n.cast("bigint").alias("count_order"),
          )
    )


@register(
    "q_revenue_forecast",
    f"""SELECT {_OUT4.format(s=f"SUM({_VDEC.format(x='l_extendedprice * l_discount')})")}
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24""",
    doc="TPC-H Q6 forecast-revenue change: the selective single-aggregate "
        "scan — three pushed predicates, one product sum, no shuffle worth "
        "the name",
    tags=("relational", "agg", "tpch"),
)
def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter trio reaches PushedFilters; what survives is one map-side
    product and a single-row global sum — the cheapest possible plan shape,
    and the one Q6 exists to test."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = _vdec_col(F.col("l_extendedprice") * F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04) & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24))
          .agg(_out4_col(F.sum(rev)).alias("revenue"))
    )


SHIPPRIO_SEGMENT = "BUILDING"
SHIPPRIO_DATE = "1998-03-15"
SHIPPRIO_TOPK = 10

@register(
    "q_shipping_priority",
    f"""SELECT l_orderkey,
           {_OUT4.format(s=f"SUM({_VDEC.format(x='l_extendedprice * (1 - l_discount)')})")} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{SHIPPRIO_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{SHIPPRIO_DATE}'
      AND l_shipdate > TIMESTAMP '{SHIPPRIO_DATE}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY SUM({_VDEC.format(x='l_extendedprice * (1 - l_discount)')}) DESC,
             l_orderkey
    LIMIT {SHIPPRIO_TOPK}""",
    doc=f"TPC-H Q3 shipping priority (adapted: o_orderpriority for the "
        f"missing o_shippriority): top-{SHIPPRIO_TOPK} undelivered "
        f"'{SHIPPRIO_SEGMENT}' orders by revenue — the join + aggregate + "
        "top-k shape, tie-broken on the EXACT decimal revenue then orderkey",
    tags=("relational", "join", "agg", "tpch"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dimension side first: the segment-filtered customer list
    broadcasts into orders, that (already date-pruned) order list broadcasts
    into the lineitem scan, and only surviving lines shuffle — once, on
    orderkey — for the revenue rollup. Ordering for the top-k happens on the
    EXACT decimal sum (ties at double precision would be engine-dependent),
    with orderkey as the total-order tie-break; TakeOrderedAndProject fuses
    the sort+limit."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit(SHIPPRIO_DATE).cast("timestamp")
    rev = _vdec_col(
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
    joined = (
        li.filter(F.col("l_shipdate") > cut)
          .join(F.broadcast(o.filter(F.col("o_orderdate") < cut)),
                F.col("l_orderkey") == F.col("o_orderkey"))
          .join(F.broadcast(
                    c.filter(F.col("c_mktsegment") == SHIPPRIO_SEGMENT)
                     .select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = (joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
                 .agg(F.sum(rev).alias("_rev_exact")))
    return (agg.orderBy(F.col("_rev_exact").desc(), F.col("l_orderkey"))
               .limit(SHIPPRIO_TOPK)
               .select("l_orderkey", _out4_col(F.col("_rev_exact")).alias("revenue"),
                       "o_orderdate", "o_orderpriority"))


# --- q_group_concat: deterministic LISTAGG / string_agg ------------------------------

@register(
    "q_group_concat",
    """SELECT r.r_name AS region,
              CAST(COUNT(1) AS BIGINT) AS n_nations,
              string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
       FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name""",
    doc="per-region sorted roster of nation names as one string — the "
        "LISTAGG / string_agg surface, made deterministic by an explicit "
        "in-aggregate ORDER BY in both engines",
    tags=("relational", "agg", "join"),
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list has NO deterministic order in a distributed engine —
    the trap in every naive group-concat. sort_array after collection pins
    it (equivalent to the oracle's ORDER BY inside string_agg), and the
    broadcast dim join keeps the fact side shuffle-free before the tiny
    region-cardinality aggregate."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
         .groupBy(F.col("r_name").alias("region"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_nations"),
              F.array_join(F.sort_array(F.collect_list("n_name")), ",")
               .alias("nations"))
    )


# --- q_exists_late: correlated EXISTS (TPC-H Q4 shape) -------------------------

LATE_FROM = "1997-01-01"
LATE_TO = "1997-07-01"

@register(
    "q_exists_late",
    f"""SELECT o_orderpriority, CAST(COUNT(1) AS BIGINT) AS n_orders
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '{LATE_FROM} 00:00:00'
         AND o.o_orderdate <  TIMESTAMP '{LATE_TO} 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate)
       GROUP BY o_orderpriority""",
    doc="TPC-H Q4 shape: orders (in a 6-month window) having at least one "
        "lineitem shipped after the order date, counted per priority — the "
        "correlated-EXISTS pattern decorrelated into a conditioned semi join",
    tags=("join", "setop", "tpch", "agg"),
)
def q_exists_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated EXISTS (mis has none; TPC-H Q4 is the canonical shape)
    becomes `left_semi` with the cross-table inequality folded into the join
    condition: Catalyst keeps the equi-part (l_orderkey = o_orderkey) as the
    shuffle key and evaluates the inequality as a post-join residual, so it
    stays a hash/sort-merge semi join — never a cross product. The 6-month
    window pushes into the orders scan; at 100 TB the semi join short-circuits
    per key, and only (l_orderkey, l_shipdate) is read from lineitem."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(LATE_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(LATE_TO).cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate), "left_semi")
         .groupBy("o_orderpriority")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


# --- q_small_qty_revenue: correlated scalar-average filter (TPC-H Q17 shape) ---

@register(
    "q_small_qty_revenue",
    """WITH pa AS (SELECT l_partkey, CAST(COUNT(1) AS BIGINT) AS n_li,
                          SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qsum
                   FROM lineitem GROUP BY 1)
       SELECT p_brand, CAST(COUNT(1) AS BIGINT) AS n_small,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS small_revenue
       FROM lineitem l
       JOIN pa ON pa.l_partkey = l.l_partkey
       JOIN part p ON p.p_partkey = l.l_partkey
       WHERE CAST(l.l_quantity AS DECIMAL(18,6))
             * CAST(2 * pa.n_li AS DECIMAL(18,0)) < pa.qsum
       GROUP BY 1""",
    doc="TPC-H Q17 shape: revenue from lineitems with quantity below half "
        "their part's average, per brand — the correlated scalar-AVG subquery "
        "decorrelated into a grouped pre-aggregate joined back; the avg "
        "compare is cross-multiplied (2·qty·n < Σqty) so no division enters "
        "and decimals keep both engines exact",
    tags=("join", "agg", "tpch"),
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG(x) comparisons are a parity trap (division order/rounding); the
    cross-multiplied form 2·qty·n < Σqty is pure decimal integer arithmetic.
    Plan: one combine-enabled groupBy(l_partkey) builds the per-part stats,
    the join back is co-partitioned on the SAME key (one shuffle each side,
    AQE merges), and the 25-row brand dim broadcasts. Never materializes the
    quadratic 'lineitem × its part's lineitems' the naive subquery implies."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_li"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qsum"))
    return (
        li.join(pa, "l_partkey")
          .filter(F.col("l_quantity").cast("decimal(18,6)")
                  * (F.col("n_li") * 2).cast("decimal(18,0)") < F.col("qsum"))
          .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
          .groupBy("p_brand")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_small"),
               F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("double").alias("small_revenue"))
    )


# --- q_set_intersect: INTERSECT set semantics ----------------------------------

INTERSECT_SPLIT = "1998-01-01"

@register(
    "q_set_intersect",
    f"""SELECT o_custkey AS custkey FROM orders
        WHERE o_orderdate < TIMESTAMP '{INTERSECT_SPLIT} 00:00:00'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{INTERSECT_SPLIT} 00:00:00'""",
    doc="INTERSECT set semantics: customers who ordered both before and "
        "after the split date — completes the set-op coverage next to "
        "q_set_except (the reference has no set ops, SURVEY §2.6)",
    tags=("setop",),
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst rewrites INTERSECT to a distinct left-semi join, so both
    sides reduce to distinct keys BEFORE matching — shuffle volume is
    |distinct customers|, not |orders|, at any scale. Each side's date
    predicate pushes into its own scan of the same table."""
    o = load_table(spark, sf_dir, "orders")
    split = F.lit(INTERSECT_SPLIT).cast("timestamp")
    before = o.filter(F.col("o_orderdate") < split).select(
        F.col("o_custkey").alias("custkey"))
    after = o.filter(F.col("o_orderdate") >= split).select(
        F.col("o_custkey").alias("custkey"))
    return before.intersect(after)


# --- q_array_ops: array construction / sort / serialize surface ----------------

@register(
    "q_array_ops",
    """SELECT user_id,
              CAST(len(l) AS BIGINT) AS n_types,
              array_to_string(l, ',') AS types,
              list_contains(l, 'purchase') AS has_purchase
       FROM (SELECT user_id, list_sort(list_distinct(list(event_type))) AS l
             FROM events GROUP BY 1)""",
    doc="array-type surface: per-user sorted distinct event-type list, its "
        "size, CSV serialization, and membership — collect_set/sort_array/"
        "array_join/array_contains exercised end to end (sorted before any "
        "serialization: collection order is engine- and partition-dependent)",
    tags=("agg", "arrays"),
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set's order is nondeterministic BY DESIGN in a distributed
    engine — every downstream use must sort first (the documented
    array-serialization trap, SURVEY round-2 notes). One combine-enabled
    shuffle on user_id; arrays stay bounded by the event-type domain, so
    state per key is O(|types|), not O(events)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
         .agg(F.sort_array(F.collect_set("event_type")).alias("l"))
         .select(
             "user_id",
             F.size("l").cast("bigint").alias("n_types"),
             F.array_join("l", ",").alias("types"),
             F.array_contains("l", "purchase").alias("has_purchase"),
         )
    )


# --- q_unpivot: wide→long melt ------------------------------------------------

@register(
    "q_unpivot",
    """SELECT l_returnflag, measure,
              CAST(COUNT(1) AS BIGINT) AS n,
              CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
       FROM (
         SELECT l_returnflag, 'l_extendedprice' AS measure, l_extendedprice AS val FROM lineitem
         UNION ALL
         SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
       ) GROUP BY 1, 2""",
    doc="UNPIVOT/melt: the three lineitem monetary columns turned into "
        "(measure, value) rows and re-aggregated — the wide→long reshape "
        "that feeds generic per-metric pipelines; the inverse of "
        "q_pivot_events",
    tags=("unpivot", "agg", "relational"),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot is a map-side expand (each row emits k rows in
    place — no shuffle, unlike the oracle's 3-scan UNION ALL which Spark
    would also collapse via scan reuse); the only exchange is the bounded
    (flag, measure) aggregate. Expansion factor k=3 is a constant — at
    100 TB the scan stays single-pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ids=["l_returnflag"],
            values=["l_extendedprice", "l_discount", "l_tax"],
            variableColumnName="measure",
            valueColumnName="val",
        )
        .groupBy("l_returnflag", "measure")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
             F.sum(F.col("val").cast("decimal(18,6)"))
              .cast("double").alias("sum_val"))
    )


# --- q_regex_extract: typed extraction from semi-structured strings ------------

BRAND_RE = "Brand#([0-9]+)"

@register(
    "q_regex_extract",
    f"""SELECT CAST(regexp_extract(p_brand, '{BRAND_RE}', 1) AS BIGINT) AS brand_num,
              CAST(COUNT(1) AS BIGINT) AS n_parts,
              CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
              MIN(p_name) AS min_name
       FROM part GROUP BY 1""",
    doc="regexp_extract group capture: parse the numeric id out of the "
        "'Brand#N' code and aggregate by it — the typed-extraction step for "
        "semi-structured string columns (the single-group sibling of "
        "q_pii_redact's regexp_extract_all surface)",
    tags=("text", "agg", "relational"),
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-1 capture with an identical Java∩RE2-subset pattern in both
    engines; the cast-to-BIGINT fails loudly (null) on non-matches rather
    than silently grouping garbage. Map-side extraction, one bounded
    aggregate exchange."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.groupBy(F.regexp_extract("p_brand", BRAND_RE, 1).cast("bigint")
                   .alias("brand_num"))
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"),
              F.sum(F.col("p_retailprice").cast("decimal(18,6)"))
               .cast("double").alias("sum_price"),
              F.min("p_name").alias("min_name"))
    )


# --- q_grouping_sets: explicit grouping-set selection --------------------------

@register(
    "q_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              CAST(COUNT(1) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
    doc="explicit GROUPING SETS ((status), (priority)): exactly the two "
        "single-dimension margins, no cells and no grand total — the "
        "hand-picked-set member of the grouping family next to q_agg_rollup "
        "and q_cube_agg; gid disambiguates which dimension a row belongs to",
    tags=("agg", "rollup"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE computes 2^k sets and ROLLUP k+1 — GROUPING SETS computes ONLY
    the sets asked for: here 2 expansions per input row instead of CUBE's 4,
    halving the pre-shuffle expand. Still one exchange, map-side partials,
    output bounded by |statuses| + |priorities|."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus", "o_orderpriority")
         .agg(F.grouping_id().cast("bigint").alias("gid"),
              F.count(F.lit(1)).cast("bigint").alias("n_orders"),
              F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
               .cast("double").alias("total_price"))
         .select("o_orderstatus", "o_orderpriority", "gid", "n_orders",
                 "total_price")
    )


# --- q_order_count_dist: outer-join distribution (TPC-H Q13 shape) -------------

@register(
    "q_order_count_dist",
    """SELECT c_count, CAST(COUNT(1) AS BIGINT) AS custdist FROM (
         SELECT c.c_custkey,
                CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
         FROM customer c LEFT OUTER JOIN orders o
           ON o.o_custkey = c.c_custkey
          AND o.o_orderpriority <> '1-URGENT'
         GROUP BY c.c_custkey
       ) GROUP BY c_count""",
    doc="TPC-H Q13 shape: how many customers placed 0, 1, 2, … non-urgent "
        "orders — the LEFT OUTER join + two-level aggregation that keeps "
        "zero-order customers in the distribution (an inner join silently "
        "drops the most interesting bucket)",
    tags=("join", "agg", "tpch"),
)
def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(column) over the outer join counts only matched rows, so
    no-order customers land in bucket 0 without a separate anti-join pass.
    The non-join predicate stays in the join condition (moving it to a WHERE
    would turn the outer join inner — the classic Q13 bug). Two shuffles:
    custkey (join+first agg share it) then the tiny c_count distribution."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, (o.o_custkey == c.c_custkey)
               & (o.o_orderpriority != "1-URGENT"), "left_outer")
         .groupBy("c_custkey")
         .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist"))


# --- q_top_supplier: argmax via scalar aggregate (TPC-H Q15 shape) -------------

TOPSUP_FROM = "1997-01-01"
TOPSUP_TO = "1997-04-01"

@register(
    "q_top_supplier",
    f"""WITH rev AS (
         SELECT l_suppkey,
                SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS total_rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '{TOPSUP_FROM} 00:00:00'
           AND l_shipdate <  TIMESTAMP '{TOPSUP_TO} 00:00:00'
         GROUP BY l_suppkey)
       SELECT s.s_suppkey, s.s_name,
              CAST(r.total_rev AS DOUBLE) AS total_rev
       FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
       WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)""",
    doc="TPC-H Q15 shape: the supplier(s) with the maximum quarterly "
        "revenue — argmax by scalar-aggregate subquery; the equality "
        "compares EXACT decimals (a double re-aggregation would make 'the "
        "max' engine-dependent and could return different winners)",
    tags=("join", "agg", "tpch"),
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The revenue view is computed ONCE and persisted (the reference trap in
    Q15 is recomputing the view for the subquery — double scan); the 1-row
    MAX broadcasts back as a cross join, and ties all surface (WHERE =, not
    LIMIT 1). Decimal equality is exact, so the winner set is deterministic.
    The supplier dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit(TOPSUP_FROM).cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit(TOPSUP_TO).cast("timestamp")))
          .groupBy("l_suppkey")
          .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                     * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)")))
                .alias("total_rev"))
    ).persist()
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
           .filter(F.col("total_rev") == F.col("max_rev"))
           .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
           .select("s_suppkey", "s_name",
                   F.col("total_rev").cast("double").alias("total_rev"))
    )


# --- q_lonely_late_supplier: double correlation (TPC-H Q21 shape) --------------

LATE_DAYS = 60

@register(
    "q_lonely_late_supplier",
    f"""WITH li AS (
         SELECT l.l_orderkey, l.l_suppkey,
                CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
                     THEN 1 ELSE 0 END AS is_late
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE o.o_orderstatus = 'F')
       SELECT l_suppkey, CAST(COUNT(1) AS BIGINT) AS numwait FROM (
         SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
         FROM li l1
         WHERE l1.is_late = 1
           AND EXISTS (SELECT 1 FROM li l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM li l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.is_late = 1)
       ) GROUP BY l_suppkey""",
    doc="TPC-H Q21 shape: suppliers who were the ONLY late supplier on "
        "multi-supplier finished orders — EXISTS + NOT EXISTS self-"
        "correlation collapsed into one per-order aggregate instead of two "
        "self-joins (late flag = shipped more than "
        f"{LATE_DAYS} days after ordering)",
    tags=("join", "agg", "tpch", "setop"),
)
def q_lonely_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook plan runs two lineitem self-joins (EXISTS, NOT EXISTS);
    this plan aggregates each order ONCE — distinct suppliers, distinct LATE
    suppliers per order — and the two existence predicates become arithmetic
    on those counts: >1 suppliers, exactly 1 late, and you are it. One
    orderkey shuffle replaces both self-joins; per-order state is two
    distinct-counts + one conditional max, bounded by suppliers-per-order.
    The is_late flag needs o_orderdate, a co-keyed orders join AQE can
    broadcast after the status filter."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    flagged = (
        li.join(o, li.l_orderkey == o.o_orderkey)
          .select("l_orderkey", "l_suppkey",
                  (F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAY"))
                  .cast("int").alias("is_late"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(F.max("is_late").alias("is_late"))
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
                 .groupBy(F.col("late_supp").alias("l_suppkey"))
                 .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


# --- q_bloom_semi_join: runtime-filter (bloom) pruned semi join -----------------

BLOOM_BITS = 1 << 20   # m: fixed bloom width -> 16384 int64 words (128 KiB)
BLOOM_PRICE_MIN = 300000.0


def _bloom_pos(key, seed: int):
    """Bit position of hash #seed for `key` in the m-bit bloom filter."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_BITS))


@register(
    "q_bloom_semi_join",
    f"""SELECT CAST(COUNT(1) AS BIGINT) AS n_items,
              CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
       FROM lineitem
       WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_totalprice > {BLOOM_PRICE_MIN})""",
    doc="runtime-filter join: lineitems of urgent high-value orders, with a "
        "distributed 2-hash bloom filter (1M bits packed into 16K int64 "
        "words via bit_or) pruning the probe side BEFORE the exact "
        "semi-join — the fixed-size join-pruning pattern for selective "
        "filters on the build side",
    tags=("relational", "join", "bloom", "agg"),
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom is built AS AN AGGREGATE (explode 2 positions/key ->
    bit_or per 64-bit word), so its size is fixed at m/8 bytes no matter
    how many keys the build side holds — unlike broadcasting the key set,
    this stays broadcastable at any build-side scale. Probe rows check
    both bits via two broadcast joins on the word index (map-side, no
    probe shuffle); only bloom survivors (true matches + ~|probe|/4000
    false positives at these parameters) reach the exact equi-join that
    restores precise semantics. At 100 TB the final join shuffles only
    the pruned survivors; the oracle is the plain IN-subquery the pattern
    is transparent to."""
    o = load_table(spark, sf_dir, "orders")
    sel = (o.filter((F.col("o_orderpriority") == "1-URGENT")
                    & (F.col("o_totalprice") > BLOOM_PRICE_MIN))
             .select("o_orderkey").persist())
    exact = bloom_pruned_join(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity"),
        sel, "l_orderkey", "o_orderkey")
    return exact.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
         .alias("sum_qty"),
    )


def bloom_pruned_join(big: DataFrame, sel: DataFrame, big_key: str,
                      sel_key: str) -> DataFrame:
    """Exact inner equi-join of ``big`` to ``sel``, with the probe side
    pre-pruned by a distributed 2-hash bloom filter over ``sel``'s keys
    (built as a bit_or aggregate over 64-bit words, broadcast twice).
    False positives are removed by the final equi-join, so the result is
    EXACTLY big ⋈ sel for any inputs — the property the fuzz suite pins.
    Internal columns are __bloom_-prefixed and the probe side keeps only
    the caller's columns, so colliding names (including big_key ==
    sel_key) cannot be captured or clobbered."""
    skey = sel.select(F.col(sel_key).alias("__bloom_sk")).persist()
    words = (
        skey.select(F.explode(F.array(_bloom_pos(F.col("__bloom_sk"), 0),
                                      _bloom_pos(F.col("__bloom_sk"), 1)))
                    .alias("__bloom_pos"))
            .select(F.expr("shiftright(__bloom_pos, 6)").alias("__bloom_w"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(__bloom_pos % 64 AS INT))")
                     .alias("__bloom_bit"))
            .groupBy("__bloom_w")
            .agg(F.bit_or("__bloom_bit").alias("__bloom_mask"))
    )
    li = (big.withColumn("__bloom_p0", _bloom_pos(F.col(big_key), 0))
             .withColumn("__bloom_p1", _bloom_pos(F.col(big_key), 1)))
    w0 = words.select(F.col("__bloom_w").alias("__bloom_w0"),
                      F.col("__bloom_mask").alias("__bloom_m0"))
    w1 = words.select(F.col("__bloom_w").alias("__bloom_w1"),
                      F.col("__bloom_mask").alias("__bloom_m1"))
    hit = "({m} & shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))) != 0"
    cand = (
        li.join(F.broadcast(w0),
                F.expr("shiftright(__bloom_p0, 6)") == F.col("__bloom_w0"))
          .filter(F.expr(hit.format(m="__bloom_m0", p="__bloom_p0")))
          .join(F.broadcast(w1),
                F.expr("shiftright(__bloom_p1, 6)") == F.col("__bloom_w1"))
          .filter(F.expr(hit.format(m="__bloom_m1", p="__bloom_p1")))
          .select(*big.columns, F.col(big_key).alias("__bloom_bk"))
    )
    return (cand.join(skey, F.col("__bloom_bk") == F.col("__bloom_sk"))
                .drop("__bloom_bk", "__bloom_sk"))


# --- q_skew_salted_join: hot-key join via salt + replicated broadcast -----------

SKEW_SALTS = 16


_VALUE_CENTS = ("CAST(FLOOR(CAST(CAST(CAST(value AS DOUBLE) AS VARCHAR)"
                " AS DECIMAL(19,8)) * 100) AS BIGINT)")

@register(
    "q_skew_salted_join",
    f"""SELECT event_type,
              {md5_u32_duck('event_type')} % 100 AS type_weight,
              CAST(COUNT(1) AS BIGINT) AS n_events,
              CAST(SUM({_VALUE_CENTS}) * ({md5_u32_duck('event_type')} % 100)
                   AS BIGINT) AS weighted_cents
       FROM events GROUP BY event_type ORDER BY event_type""",
    doc="skew-proof dimension join: events (5 hot event_type keys) join a "
        f"per-type weight dim via salting — big side salts into {SKEW_SALTS} "
        "deterministic buckets, the dim replicates across all salts and "
        "broadcasts, so no reducer ever receives a whole hot key",
    tags=("relational", "join", "skew"),
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered face of operators/skew.py: a fact table whose join
    key has only a handful of values (every key is hot — the worst case
    for a shuffle join, where 5 reducers would own 100% of the data) joins
    its dimension through salted_broadcast_left: xxhash-salt the big side,
    explode the dim x{SKEW_SALTS}, broadcast-join on (key, salt). The big
    side never shuffles on the hot key; the downstream per-type aggregate
    is safe because partial aggregation combines map-side before its
    exchange. The dim derives each type's weight as md5_u32 % 100 — both
    engines compute it identically, which lets the oracle state the join
    as a closed-form single-table aggregate while the Spark plan exercises
    the real replicated join. Sums use the exact-cents idiom."""
    from flink_job_spark.operators.skew import salted_broadcast_left
    from flink_job_spark.queries.analytics import cents_col
    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    dim = (e.select("event_type").distinct()
            .withColumn("type_weight",
                        F.pmod(md5_u32(F.col("event_type")), F.lit(100))))
    joined = salted_broadcast_left(e, dim, "event_type", "event_id",
                                   n_salts=SKEW_SALTS)
    return (
        joined.groupBy("event_type", "type_weight")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                   (F.sum(cents_col(F.col("value")))
                    * F.col("type_weight").cast("bigint")).cast("bigint")
                   .alias("weighted_cents"))
              .orderBy("event_type")
    )


# --- q_skew_split_join: hot-key isolation join (split + broadcast hot slice) ----

SPLIT_HOT_TYPES = ["click", "view"]   # statically-known hot keys

@register(
    "q_skew_split_join",
    f"""SELECT event_type,
              event_type IN ('click', 'view') AS is_hot,
              CAST(COUNT(1) AS BIGINT) AS n_events,
              CAST(SUM({_VALUE_CENTS}) AS BIGINT) AS sum_cents
       FROM events GROUP BY 1, 2 ORDER BY 1""",
    doc="hot-key isolation join: the fact splits on a statically-known hot "
        "key list — the hot slice joins its (tiny by definition) dim slice "
        "via broadcast with NO shuffle, only the well-distributed cold "
        "remainder takes the ordinary shuffle join; the structural skew fix "
        "that also works where AQE skew-join cannot apply (streaming, reused "
        "exchanges). A/B-measured 2.9-4.1x over naive at 60M rows with a "
        "50%-hot key (BASELINE.md, Skew A/B evidence)",
    tags=("relational", "join", "skew"),
)
def q_skew_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered face of operators/skew.py:hot_key_split_join. The dim
    carries one row per event_type (derived distinct), so the oracle can
    state the join as a single-table aggregate while the Spark plan runs
    the real split: union of [cold shuffle join] and [hot broadcast join],
    disjoint by construction. Hot keys would come from q_heavy_hitters in
    a production pipeline; here they are the statically-known stop-keys."""
    from flink_job_spark.operators.skew import hot_key_split_join
    from flink_job_spark.queries.analytics import cents_col

    e = (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value"))
    dim = e.select("event_type").distinct().withColumn(
        "is_hot", F.col("event_type").isin(SPLIT_HOT_TYPES))
    joined = hot_key_split_join(e, dim, "event_type", SPLIT_HOT_TYPES)
    return (
        joined.groupBy("event_type", "is_hot")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                   F.sum(cents_col(F.col("value"))).cast("bigint")
                   .alias("sum_cents"))
              .orderBy("event_type")
    )


# --- q_null_safe_join: IS NOT DISTINCT FROM join semantics ----------------------

NULLSAFE_HIDDEN_NATION = 0  # nation whose key is masked to NULL on both sides


@register(
    "q_null_safe_join",
    f"""WITH c AS (
          SELECT nullif(c_nationkey, {NULLSAFE_HIDDEN_NATION}) AS k,
                 c_acctbal
          FROM customer),
        n AS (
          SELECT nullif(n_nationkey, {NULLSAFE_HIDDEN_NATION}) AS k, n_name
          FROM nation)
       SELECT COALESCE(CAST(n.k AS VARCHAR), '<null>') AS join_key,
              n.n_name,
              CAST(COUNT(1) AS BIGINT) AS n_customers,
              CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_positive
       FROM c JOIN n ON c.k IS NOT DISTINCT FROM n.k
       GROUP BY 1, 2 ORDER BY 1""",
    doc="null-safe equality join (Spark <=> / SQL IS NOT DISTINCT FROM): "
        "keys masked to NULL on both sides still pair up exactly once — "
        "the three-valued-logic edge where a plain equi-join silently "
        "drops every NULL-keyed row",
    tags=("relational", "join", "nullsemantics"),
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst treats EqualNullSafe as a true equi-join key (hash/
    broadcast join, NULLs hashing to one bucket — plan-pinned to a
    broadcast join, no cartesian fallback), so the NULL group co-locates
    like any other key. That is also the scale warning the docstring
    carries: a null-safe key makes NULL a JOIN KEY, so a null-heavy fact
    side concentrates on one reducer exactly like any hot key — salt it
    (operators/skew.py) if NULLs dominate. The '<null>' sentinel labels
    the NULL bucket in the output, COALESCE applied AFTER the join in
    both engines."""
    c = (load_table(spark, sf_dir, "customer")
         .select(F.nullif(F.col("c_nationkey"),
                          F.lit(NULLSAFE_HIDDEN_NATION)).alias("k"),
                 "c_acctbal"))
    n = (load_table(spark, sf_dir, "nation")
         .select(F.nullif(F.col("n_nationkey"),
                          F.lit(NULLSAFE_HIDDEN_NATION)).alias("nk"),
                 "n_name"))
    return (
        c.join(F.broadcast(n), c.k.eqNullSafe(n.nk))
         .groupBy(F.coalesce(F.col("nk").cast("string"), F.lit("<null>"))
                   .alias("join_key"),
                  "n_name")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
              F.sum(F.when(F.col("c_acctbal") > 0, 1).otherwise(0))
               .cast("bigint").alias("n_positive"))
         .orderBy("join_key")
    )


# --- q_argmax_struct: sort-free deterministic arg-max ---------------------------

@register(
    "q_argmax_struct",
    """WITH m AS (
          SELECT c_nationkey,
                 max(struct_pack(bal := c_acctbal, key := c_custkey)) AS s,
                 CAST(COUNT(1) AS BIGINT) AS n_customers
          FROM customer GROUP BY c_nationkey)
       SELECT c_nationkey, s.bal AS top_acctbal,
              CAST(s.key AS BIGINT) AS top_custkey, n_customers
       FROM m ORDER BY c_nationkey""",
    doc="deterministic arg-max WITHOUT a sort: the per-nation richest "
        "customer via max(struct(balance, key)) — lexicographic struct "
        "ordering makes the aggregate combine-enabled AND tie-broken, the "
        "constant-memory alternative to a rank-window top-1",
    tags=("relational", "agg", "argmax"),
)
def q_argmax_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max as ONE partial-aggregable MAX over a struct whose field
    order IS the ordering (value first, tie-break key second): every
    partition keeps 16 bytes per group and the merge is associative — no
    per-group sort, no window, no shuffle of raw rows beyond the one
    aggregation exchange (plan-pinned: no Window/Sort below the agg).
    max_by() has nondeterministic ties; packing the tie-break INTO the
    compared struct removes them. Both engines compare structs
    lexicographically, so the oracle is the same one-aggregate shape.
    This is the scale-preferred form of q_group_topk's k=1 case."""
    c = load_table(spark, sf_dir, "customer")
    m = (c.groupBy("c_nationkey")
          .agg(F.max(F.struct(F.col("c_acctbal").alias("bal"),
                              F.col("c_custkey").alias("key"))).alias("s"),
               F.count(F.lit(1)).cast("bigint").alias("n_customers")))
    return (m.select("c_nationkey",
                     F.col("s.bal").alias("top_acctbal"),
                     F.col("s.key").cast("bigint").alias("top_custkey"),
                     "n_customers")
             .orderBy("c_nationkey"))


# --- q_array_hof: higher-order array functions (transform/filter/aggregate) -----

HOF_SCALE = 1_000_000  # dims floor-scale to integers -> order-free exact sums


@register(
    "q_array_hof",
    f"""SELECT vec_id,
              CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
                AS n_pos,
              CAST(list_sum(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {HOF_SCALE})
                        AS BIGINT))) AS BIGINT) AS sum_scaled,
              CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
                AS argmax_dim
       FROM embeddings""",
    doc="higher-order array functions over the embedding column: "
        "filter (positive-dim count), transform+aggregate (exact "
        "floor-scaled integer sum — order-free, unlike a float fold), and "
        "array_max/array_position argmax — the lambda-expression surface, "
        "map-only and codegen-resident",
    tags=("arrays", "hof", "vectors"),
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambdas run INSIDE the JVM row pipeline (no UDF, no shuffle — the
    plan pin asserts zero exchanges): filter/size counts positive dims,
    transform floors each dim to a scaled BIGINT so the aggregate sum is
    exact integers (a raw float fold would be engine-fold-order-sensitive
    — the documented float-parity trap), and array_position(array_max)
    takes the FIRST maximal dim in both engines. float->double casts are
    exact by IEEE widening."""
    e = load_table(spark, sf_dir, "embeddings")
    scaled = F.expr(
        f"aggregate(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
        f" * {HOF_SCALE}) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)")
    return e.select(
        "vec_id",
        F.size(F.expr("filter(embedding, x -> x > 0)")).cast("bigint")
         .alias("n_pos"),
        scaled.alias("sum_scaled"),
        F.expr("array_position(embedding, array_max(embedding))")
         .cast("bigint").alias("argmax_dim"),
    )


# --- q_rank_variants: rank vs dense_rank vs row_number under ties ---------------

RANKV_NATION = 3


@register(
    "q_rank_variants",
    f"""SELECT c_custkey, c_mktsegment, c_acctbal,
              rank() OVER w AS rnk,
              dense_rank() OVER w AS drnk,
              row_number() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey) AS rn
       FROM customer WHERE c_nationkey = {RANKV_NATION}
       WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)""",
    doc="the three ranking functions side by side under ties: rank (gaps "
        "after tie groups), dense_rank (no gaps), row_number (total order "
        "via the explicit c_custkey tie-break — the only one that NEEDS "
        "one) — per market segment by balance",
    tags=("windows", "rank"),
)
def q_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank are tie-stable (equal balances share a value), so
    ordering by the raw balance alone is deterministic; row_number is NOT
    — it gets the full-tuple (balance, custkey) order, the repo-wide
    LIMIT/row_number discipline. All three share one partition sort: the
    two window specs order by the same leading key, so Catalyst plans a
    single exchange + sort (pinned)."""
    c = (load_table(spark, sf_dir, "customer")
         .filter(F.col("c_nationkey") == RANKV_NATION))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    wt = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(wt).alias("rn"),
    )


# --- q_spatial_close_pairs: grid-bucketed spatial self-join --------------------

SPATIAL_GRID, SPATIAL_DIST = 200, 150   # cell size >= distance => 1-ring join

@register(
    "q_spatial_close_pairs",
    f"""WITH p AS (SELECT c_custkey AS ck, c_nationkey AS nk,
                          {md5_u32_duck("'x|' || CAST(c_custkey AS VARCHAR)")}
                            % 10000 AS x,
                          {md5_u32_duck("'y|' || CAST(c_custkey AS VARCHAR)")}
                            % 10000 AS y
                   FROM customer)
        SELECT a.nk AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_close_pairs
        FROM p a JOIN p b ON a.ck < b.ck
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              <= {SPATIAL_DIST * SPATIAL_DIST}
        GROUP BY a.nk
        ORDER BY nationkey""",
    doc="spatial self-join without a cross product: synthetic integer "
        f"coordinates, grid cells of {SPATIAL_GRID}, left side exploded to "
        "its 3x3 cell neighborhood, equi-join on the right side's home cell, "
        "then the EXACT integer distance predicate — every close pair found "
        "exactly once (a point has one home cell) while candidate pairs are "
        "bounded by local density, not n^2; the oracle is the naive "
        "quadratic join, feasible at oracle scale only",
    tags=("spatial", "join", "grid"),
)
def q_spatial_close_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grid-bucket pattern every geo/embedding blocking join uses: with
    cell >= radius, any pair within radius differs by at most 1 in each
    cell coordinate, so 'explode A to 9 neighbor cells, equi-join B on its
    home cell' is a complete and non-duplicating candidate generator. At
    100 TB the only shuffle is the (cell) hash join of 9n vs n rows —
    local-density-bounded, skew-safe for near-uniform coords (a hot cell
    would call for the same salting machinery as any hot join key). All
    arithmetic is int64-exact: no floating-point distance, no engine
    divergence. The a.ck < b.ck tie-break also prevents self-pairs."""
    c = load_table(spark, sf_dir, "customer")

    def coord(axis: str) -> F.Column:
        # md5 lane, not a linear multiple: (a*k) % m coordinates form a
        # lattice whose minimum spacing can exceed the radius (observed:
        # ZERO close pairs) — hashed coordinates are uniform
        return md5_u32(F.concat(F.lit(axis + "|"),
                                F.col("c_custkey").cast("string"))) % 10000

    p = c.select(
        F.col("c_custkey").alias("ck"),
        F.col("c_nationkey").alias("nk"),
        coord("x").alias("x"),
        coord("y").alias("y"),
    )
    pairs = grid_close_pairs(p, SPATIAL_GRID, SPATIAL_DIST,
                             payload=["nk"])
    return (pairs
             .groupBy(F.col("a_nk").alias("nationkey"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_close_pairs"))
             .orderBy("nationkey"))
