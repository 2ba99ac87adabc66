package graft.queries

import graft.dsl.Ksql
import graft.plans.Planner
import graft.sources.TestEntities._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Relational core of SURVEY §2.1-§2.2: From/Where/Select/GroupBy/Having/
  * Join(inner+left)/OrderBy/Limit plus the aggregate set. Every query is
  * planned through the graft DSL → Planner (not ad-hoc DataFrame code),
  * so the driver's correctness gate exercises the same path a library
  * user would.
  */
object RelationalQueries extends QueryPack {

  /** Order-independent SUM over doubles: through DECIMAL(18,2), back to
    * DOUBLE (exact at the testdata's 2-decimal precision).
    */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Where + scalar projection + arithmetic (WhereExpressionVisitor /
    // SelectExpressionVisitor semantics)
    "q_filter_project" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(lineitem)
          .where(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
          .where(col("l_discount") > 0.05)
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price")
          )
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .build(),
        catalog(s, dir)
      )
    },

    // TPC-H Q1 shape: composite GROUP BY + SUM/AVG/COUNT/MIN/MAX
    "q_groupby_agg" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(lineitem)
          .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(
            "l_returnflag" -> col("l_returnflag"),
            "l_linestatus" -> col("l_linestatus")
          )
          .select(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            // scale-4 sum: price(2dp) × (1-discount)(2dp) has EXACTLY 4
            // decimal digits, so the cast never rounds (engines disagree
            // on half-rounding) and the sum stays under 2^53 scale units
            // (a scale-10 sum overflows that and its double conversion
            // drifts by an ulp between engines)
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(DecimalType(28, 4))).cast("double").as("sum_disc_price"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"),
            count(lit(1)).as("count_order")
          )
          .orderBy(col("l_returnflag"), col("l_linestatus"))
          .build(),
        catalog(s, dir)
      )
    },

    // INNER equi-join (JoinExpressionVisitor; INNER+LEFT only)
    "q_join_inner" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(orders)
          .join(customer, col("orders.o_custkey") === col("customer.c_custkey"))
          .where(col("customer.c_mktsegment") === "BUILDING")
          .select(
            col("o_orderkey"),
            col("c_name"),
            col("o_totalprice")
          )
          .orderBy(col("o_orderkey"))
          .build(),
        catalog(s, dir)
      )
    },

    // LEFT OUTER join + grouped aggregation over the nullable side
    "q_join_left_agg" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(customer)
          .leftJoin(orders, col("customer.c_custkey") === col("orders.o_custkey"))
          .groupBy("c_custkey" -> col("c_custkey"))
          .select(
            count(col("o_orderkey")).as("order_cnt"),
            dsum(col("o_totalprice")).as("total_spent")
          )
          .orderBy(col("c_custkey"))
          .build(),
        catalog(s, dir)
      )
    },

    // HAVING (post-aggregation filter on output aliases)
    "q_having" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(orders)
          .groupBy("o_custkey" -> col("o_custkey"))
          .having(col("total_spent") > 500000.0)
          .select(
            dsum(col("o_totalprice")).as("total_spent"),
            count(lit(1)).as("order_cnt")
          )
          .orderBy(col("o_custkey"))
          .build(),
        catalog(s, dir)
      )
    },

    // Pull-query ORDER BY + LIMIT (DMLQueryGenerator pull path)
    "q_orderby_limit" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(orders)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
          .build(),
        catalog(s, dir)
      )
    },

    // EventSet newest-N, distributed per-key form (EventSetLimitExtensions
    // keeps the NEWEST records; GraftContext.latest is the client-pull
    // variant of the same ordering)
    // time-RANGE rolling window (trailing 1 day per user): the frame is
    // VALUE-bounded, so duplicate timestamps need no tie-break — every
    // row at ts' ∈ [ts − 1d, ts] is in the frame regardless of order.
    // Key-partitioned sliding state; at 100 TB the same per-key window
    // argument as scd2/as-of applies (hottest key bounds a task)
    "q_rolling_range" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-86400000000L, 0L)
      graft.sources.Tables
        .load(s, dir, "events")
        .select(
          col("event_id"), col("user_id"), col("ts"),
          round(sum(col("value")).over(w), 6).as("rolling_1d"),
          count(lit(1)).over(w).cast("long").as("n_1d"))
        .orderBy(col("event_id"))
    },

    "q_latest_n" -> { (s, dir) =>
      graft.operators.TopN
        .newestPerKey(
          graft.sources.Tables.load(s, dir, "events"),
          keyCol = "user_id",
          timeCol = "ts",
          tieCol = "event_id",
          n = 3
        )
        .select(col("user_id"), col("rank"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("rank"))
    },

    // ROWTIME / ROWKEY pseudo-columns resolved from the entity model
    // (KsqlFunctionRegistry :146-147) — driver-checked, not just spec'd
    "q_rowtime_key" -> { (s, dir) =>
      graft.sources.Tables
        .load(s, dir, "events")
        .filter(col("event_id") < 300)
        .select(
          graft.functions.KFunctions.rowKey(events).as("row_key"),
          unix_millis(graft.functions.KFunctions.rowTime(events)).as("row_time_ms"),
          col("event_type")
        )
        .orderBy(col("row_key"))
    },

    // CASE WHEN (C# ternary), IN / NOT IN, NULLIF/COALESCE, IS NULL
    "q_case_in_null" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(part)
          .select(
            col("p_partkey"),
            when(col("p_size") < 10, "small")
              .when(col("p_size") < 30, "medium")
              .otherwise("large")
              .as("size_class"),
            col("p_brand").isin("Brand#1", "Brand#2").as("is_top_brand"),
            (!col("p_type").isin("a", "b")).as("not_in_demo"),
            coalesce(nullif(col("p_brand"), lit("Brand#1")), lit("OTHER"))
              .as("brand_or_other"),
            nullif(col("p_brand"), lit("Brand#1")).isNull.as("was_brand1")
          )
          .orderBy(col("p_partkey"))
          .build(),
        catalog(s, dir)
      )
    },

    // composite GROUP BY on expressions (functions in keys —
    // AllowedInGroupBy set: SUBSTRING/ROUND/YEAR...)
    "q_groupby_expr_keys" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(orders)
          .groupBy(
            "order_year" -> year(col("o_orderdate")),
            "status_prefix" -> substring(col("o_orderstatus"), 1, 1)
          )
          .select(
            count(lit(1)).as("cnt"),
            dsum(col("o_totalprice")).as("total")
          )
          .orderBy(col("order_year"), col("status_prefix"))
          .build(),
        catalog(s, dir)
      )
    },

    // LATEST/EARLIEST_BY_OFFSET → max_by/min_by over the offset order
    // (event_id is the append order), COUNT_DISTINCT, COLLECT_LIST/SET
    "q_agg_offsets" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(events)
          .groupBy("event_type" -> col("event_type"))
          .select(
            min_by(col("value"), col("event_id")).as("earliest_value"),
            max_by(col("value"), col("event_id")).as("latest_value"),
            count_distinct(col("user_id")).as("uniq_users"),
            count(lit(1)).as("cnt")
          )
          .orderBy(col("event_type"))
          .build(),
        catalog(s, dir)
      )
    },

    // COLLECT_LIST / COLLECT_SET (sorted for deterministic compare;
    // serialized via array_join — the driver's pandas comparator cannot
    // hash ndarray cells, so every output column must be scalar)
    "q_collect" -> { (s, dir) =>
      Planner.batch(
        Ksql
          .from(lineitem)
          .where(col("l_orderkey") < 100)
          .groupBy("l_orderkey" -> col("l_orderkey"))
          .select(
            array_join(
              sort_array(collect_list(col("l_linenumber"))).cast("array<string>"),
              ","
            ).as("line_nums"),
            array_join(sort_array(collect_set(col("l_returnflag"))), ",").as("flags")
          )
          .orderBy(col("l_orderkey"))
          .build(),
        catalog(s, dir)
      )
    },

    // TOPK/TOPKDISTINCT as every GraftSession registers them: the
    // bounded-heap TypedImperativeAggregate (buffer ≤ k per partial — the
    // 100TB-safe path). BoundedTopKSpec proves heap ≡ composite.
    "q_topk" -> { (s, dir) =>
      // top-k doubles come out as scalar rank columns (get() is null-safe
      // out of bounds) — double→string formatting differs across engines,
      // so numeric columns beat a joined string here
      Planner
        .batch(
          Ksql
            .from(events)
            .groupBy("event_type" -> col("event_type"))
            .select(
              expr("TOPK(value, 3)").as("topv"),
              // typed heap on strings too (TOPKDISTINCT(VARCHAR)) — the
              // collect_set composite would buffer whole groups
              expr("TOPKDISTINCT(user_id, 3)").as("topu")
            )
            .build(),
          catalog(s, dir)
        )
        .select(
          col("event_type"),
          get(col("topv"), lit(0)).as("top1"),
          get(col("topv"), lit(1)).as("top2"),
          get(col("topv"), lit(2)).as("top3"),
          array_join(col("topu").cast("array<string>"), ",").as("top_users")
        )
        .orderBy(col("event_type"))
    },

    // HISTOGRAM: value→count as sorted entry structs (map emitted as
    // deterministic entries; KFunctions.histogramEntries for the MAP form)
    "q_histogram" -> { (s, dir) =>
      val buckets = Planner.batch(
        Ksql
          .from(events)
          .groupBy(
            "event_type" -> col("event_type"),
            "bucket" -> (floor(col("value") / 50) * 50).cast("long")
          )
          .select(count(lit(1)).as("cnt"))
          .build(),
        catalog(s, dir)
      )
      buckets
        .groupBy(col("event_type"))
        .agg(
          // entries rendered "bucket:cnt" and joined — lexical sort of the
          // rendered strings is identical in Spark and DuckDB (binary
          // collation both sides), and the output stays scalar
          array_join(
            sort_array(
              collect_list(
                concat(col("bucket").cast("string"), lit(":"), col("cnt").cast("string"))
              )
            ),
            "|"
          ).as("hist")
        )
        .orderBy(col("event_type"))
    },

    // HISTOGRAM via the native one-shuffle HistogramAgg (the 100 TB
    // path): no pre-grouping pass — bucket per row, count straight into
    // a capped map. to_json of the key-sorted map is the scalar output.
    "q_histogram_native" -> { (s, dir) =>
      graft.sources.Tables
        .load(s, dir, "events")
        .select(
          col("event_type"),
          (floor(col("value") / 50) * 50).cast("long").as("bucket")
        )
        .groupBy(col("event_type"))
        .agg(graft.functions.KFunctions.histogram(col("bucket")).as("hmap"))
        .select(col("event_type"), to_json(col("hmap")).as("hist"))
        .orderBy(col("event_type"))
    },

    // ordered-step funnel (view → click → purchase, 7-day horizon):
    // one pushdown-filtered scan + user-keyed join + hash agg per step
    // (operators/Funnel scaladoc for the greedy earliest-chain
    // semantics and skew bound)
    "q_funnel" -> { (s, dir) =>
      graft.operators.Funnel
        .conversion(
          graft.sources.Tables.load(s, dir, "events"),
          userCol = "user_id", typeCol = "event_type", tsCol = "ts",
          steps = Seq("view", "click", "purchase"),
          horizon = Some(expr("INTERVAL 7 DAYS")))
        .orderBy(col("user_id"))
    },

    // gap-based batch sessionization (4 h): one user-keyed exchange
    // feeds lag + running-sum windows AND the (user, session) agg —
    // the batch face of q_window_session (Funnel.sessionize scaladoc)
    "q_sessionize" -> { (s, dir) =>
      graft.operators.Funnel
        .sessionize(
          graft.sources.Tables.load(s, dir, "events"),
          userCol = "user_id", tsCol = "ts", tieCol = "event_id",
          gapSeconds = 4 * 3600L)
        .orderBy(col("user_id"), col("session_idx"))
    },

    // weekly cohort retention triangle: two hash aggs + user-keyed
    // join + broadcast cohort sizes — exact-count ratios only
    "q_retention" -> { (s, dir) =>
      graft.operators.Funnel
        .weeklyRetention(
          graft.sources.Tables.load(s, dir, "events"),
          userCol = "user_id", tsCol = "ts")
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // ROLLUP subtotals (corpus reporting: per source×lang, per source,
    // grand total in ONE pass — Spark expands grouping sets inside a
    // single hash aggregate, no union of re-scans). Not in the
    // reference DSL (like session windows — engine extra)
    "q_rollup_stats" -> { (s, dir) =>
      graft.sources.Tables
        .load(s, dir, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    },

    // PIVOT to a per-user activity matrix: one hash aggregate with a
    // pinned pivot-value list (no distinct-scan planning pass), counts
    // dense via fill(0) — the feature-table shape model training joins
    // against
    "q_pivot_counts" -> { (s, dir) =>
      graft.sources.Tables
        .load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },

    // PSI distribution drift between two snapshot halves: scan-local
    // CASE binning, one count agg per side, bins-sized joins — the
    // retraining-trigger monitoring op (operators/Anomaly.psiDrift)
    "q_psi_drift" -> { (s, dir) =>
      val e = graft.sources.Tables.load(s, dir, "events")
      graft.operators.Anomaly
        .psiDrift(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "value",
          binEdges = Seq(25.0, 50.0, 100.0, 200.0, 400.0))
        .orderBy(col("bin"))
    },

    // per-type z-score outliers: exact decimal moments → broadcast
    // stats join → scan-local flag (operators/Anomaly scaladoc for the
    // determinism + one-pass scale argument)
    "q_anomaly_zscore" -> { (s, dir) =>
      graft.operators.Anomaly
        .zScoreOutliers(
          graft.sources.Tables.load(s, dir, "events"),
          keyCol = "event_type",
          valueCol = "value",
          keepCols = Seq("event_id"),
          threshold = 2.5)
        .orderBy(col("event_id"))
    }
  )

  val oracles: Map[String, String] = Map(
    // mirrors q_rolling_range: RANGE frames are value-bounded —
    // inclusive [ts − 1 day, ts] on both engines, no tie-break needed
    "q_rolling_range" ->
      """SELECT event_id, user_id, ts,
        |       ROUND(SUM(value) OVER w, 6) AS rolling_1d,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_1d
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       MIN(l_quantity) AS min_qty,
        |       MAX(l_quantity) AS max_qty,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_left_agg" ->
      """SELECT c_custkey,
        |       COUNT(o_orderkey) AS order_cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_having" ->
      """SELECT o_custkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
        |       COUNT(*) AS order_cnt
        |FROM orders
        |GROUP BY o_custkey
        |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 500000.0
        |ORDER BY o_custkey""".stripMargin,
    "q_latest_n" ->
      """WITH r AS (
        |  SELECT user_id, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rank
        |  FROM events)
        |SELECT user_id, CAST(rank AS INT) AS rank, event_id, value
        |FROM r WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin,
    "q_rowtime_key" ->
      """SELECT event_id AS row_key,
        |       CAST(EPOCH_MS(ts) AS BIGINT) AS row_time_ms,
        |       event_type
        |FROM events
        |WHERE event_id < 300
        |ORDER BY row_key""".stripMargin,
    "q_orderby_limit" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_case_in_null" ->
      """SELECT p_partkey,
        |       CASE WHEN p_size < 10 THEN 'small'
        |            WHEN p_size < 30 THEN 'medium'
        |            ELSE 'large' END AS size_class,
        |       p_brand IN ('Brand#1','Brand#2') AS is_top_brand,
        |       p_type NOT IN ('a','b') AS not_in_demo,
        |       COALESCE(NULLIF(p_brand,'Brand#1'),'OTHER') AS brand_or_other,
        |       NULLIF(p_brand,'Brand#1') IS NULL AS was_brand1
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_groupby_expr_keys" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        |       SUBSTRING(o_orderstatus, 1, 1) AS status_prefix,
        |       COUNT(*) AS cnt,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY order_year, status_prefix""".stripMargin,
    "q_agg_offsets" ->
      """SELECT event_type,
        |       ARG_MIN(value, event_id) AS earliest_value,
        |       ARG_MAX(value, event_id) AS latest_value,
        |       COUNT(DISTINCT user_id) AS uniq_users,
        |       COUNT(*) AS cnt
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_collect" ->
      """SELECT l_orderkey,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(l_linenumber)), ',') AS line_nums,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_returnflag)), ',') AS flags
        |FROM lineitem
        |WHERE l_orderkey < 100
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "q_topk" ->
      """SELECT event_type,
        |       LIST_SORT(LIST(value), 'DESC')[1] AS top1,
        |       LIST_SORT(LIST(value), 'DESC')[2] AS top2,
        |       LIST_SORT(LIST(value), 'DESC')[3] AS top3,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT user_id), 'DESC')[1:3], ',') AS top_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_histogram" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(FLOOR(value / 50) * 50 AS BIGINT) AS bucket,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |       ARRAY_TO_STRING(LIST_SORT(LIST(CAST(bucket AS VARCHAR) || ':' || CAST(cnt AS VARCHAR))), '|') AS hist
        |FROM b GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // JSON object rendered with keys in binary order — identical to
    // Spark's to_json over HistogramAgg's key-sorted map
    "q_histogram_native" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(CAST(FLOOR(value / 50) * 50 AS BIGINT) AS VARCHAR) AS bucket,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |       '{' || STRING_AGG('"' || bucket || '":' || CAST(cnt AS VARCHAR), ',' ORDER BY bucket) || '}' AS hist
        |FROM b GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // mirrors q_funnel: MIN over timestamps at every stage — no
    // floating point anywhere; stage flags are exact int math
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t_view FROM events
        |            WHERE event_type='view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_click
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type='click' AND e.ts > s1.t_view
        |         AND e.ts <= s1.t_view + INTERVAL 7 DAY
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
        |       FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |       WHERE e.event_type='purchase' AND e.ts > s2.t_click
        |         AND e.ts <= s1.t_view + INTERVAL 7 DAY
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
        |       CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS INT) AS stage_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // mirrors q_sessionize: event_id tie-breaks duplicate timestamps in
    // BOTH windows (round-6 session-window incident)
    "q_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 4 HOUR OR LAG(ts) OVER w IS NULL
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM o)
        |SELECT user_id, CAST(session_idx AS INT) AS session_idx,
        |       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    // mirrors q_retention: both engines truncate weeks to Monday;
    // offsets are exact day diffs of week-aligned dates
    "q_retention" ->
      """WITH w AS (SELECT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS wk FROM events),
        |firsts AS (SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, wk AS active_week FROM w),
        |sizes AS (SELECT cohort_week, COUNT(*) AS n_cohort FROM firsts GROUP BY cohort_week)
        |SELECT f.cohort_week,
        |       CAST(DATE_DIFF('day', f.cohort_week, a.active_week) / 7 AS INT) AS week_offset,
        |       COUNT(*) AS n_active, s.n_cohort,
        |       ROUND(COUNT(*) / CAST(s.n_cohort AS DOUBLE), 6) AS retention
        |FROM active a JOIN firsts f USING (user_id) JOIN sizes s ON s.cohort_week = f.cohort_week
        |GROUP BY f.cohort_week, week_offset, s.n_cohort
        |ORDER BY f.cohort_week, week_offset""".stripMargin,
    "q_rollup_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
    "q_pivot_counts" ->
      """SELECT user_id,
        |       COUNT(*) FILTER (WHERE event_type='click') AS click,
        |       COUNT(*) FILTER (WHERE event_type='view') AS view,
        |       COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
        |       COUNT(*) FILTER (WHERE event_type='signup') AS signup,
        |       COUNT(*) FILTER (WHERE event_type='error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // mirrors q_psi_drift: Laplace-smoothed proportions are ratios of
    // exact longs; LN is libm, absorbed by ROUND(6)
    "q_psi_drift" ->
      """WITH b AS (SELECT CAST(UNNEST(GENERATE_SERIES(0,5)) AS INT) AS bin),
        |binned AS (
        |  SELECT event_id,
        |         CASE WHEN value >= 400 THEN 5 WHEN value >= 200 THEN 4
        |              WHEN value >= 100 THEN 3 WHEN value >= 50 THEN 2
        |              WHEN value >= 25 THEN 1 ELSE 0 END AS bin
        |  FROM events),
        |rc AS (SELECT bin, COUNT(*) AS cr FROM binned WHERE event_id % 2 = 0 GROUP BY bin),
        |cc AS (SELECT bin, COUNT(*) AS cn FROM binned WHERE event_id % 2 = 1 GROUP BY bin),
        |j AS (SELECT b.bin, COALESCE(rc.cr, 0) AS cr, COALESCE(cc.cn, 0) AS cn
        |      FROM b LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin)),
        |t AS (SELECT CAST(SUM(cr) + 6 AS DOUBLE) AS tr, CAST(SUM(cn) + 6 AS DOUBLE) AS tc FROM j)
        |SELECT bin, cr AS n_ref, cn AS n_cur,
        |       ROUND((cn+1)/t.tc - (cr+1)/t.tr, 6) AS dp,
        |       ROUND(((cn+1)/t.tc - (cr+1)/t.tr) * LN(((cn+1)/t.tc)/((cr+1)/t.tr)), 6) AS psi_term
        |FROM j CROSS JOIN t ORDER BY bin""".stripMargin,
    // mirrors q_anomaly_zscore: DECIMAL moments are exact, so s1/s2/n —
    // and therefore every downstream IEEE double op — are bit-identical
    // across engines; ROUND(6) only absorbs the final formatting.
    // Degenerate groups (n = 1 / zero variance) are excluded in the
    // same exact-moment terms as the operator — without the guard,
    // Spark's NULL-on-÷0 silently drops the row while DuckDB's NaN
    // compares greater than the threshold and EMITS it
    "q_anomaly_zscore" ->
      """WITH s0 AS (
        |  SELECT event_type,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
        |         COUNT(*) AS n
        |  FROM events GROUP BY event_type),
        |s AS (SELECT * FROM s0 WHERE n > 1 AND (s2 - s1*s1/n) > 0)
        |SELECT e.event_id, e.event_type, e.value,
        |       ROUND((e.value - s.s1/s.n) / SQRT((s.s2 - s.s1*s.s1/s.n) / (s.n-1)), 6) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE ABS((e.value - s.s1/s.n) / SQRT((s.s2 - s.s1*s.s1/s.n) / (s.n-1))) > 2.5
        |ORDER BY event_id""".stripMargin
  )

  private def catalog(s: SparkSession, dir: String) =
    graft.sources.TestEntities.catalog(s, dir)
}
