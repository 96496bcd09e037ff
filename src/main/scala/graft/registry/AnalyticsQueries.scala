package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.analytics.Dashboard
import graft.functions.OracleSafe._

/** Dashboard analytics family: star join J1, metrics A7–A10, monthly
  * trend A11, top-k A12, plus the TPC-H-Q1-style pricing rollup that
  * stands in for the reference's per-group filing aggregates (A2/A5).
  */
object AnalyticsQueries extends QueryRegistry {

  // The revenue sums below (price × (1 − discount)) stay decimal sums,
  // not long sums of cents like `decSum`: the product has scale 4, and
  // a long sum of its unscaled values reaches about a quarter of
  // `Long.MaxValue` at sf1000, where the decimal sum still has room.

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("sum_disc_price"),
          decAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))),

    "j1_star_join" -> ((s, dir) =>
      Dashboard.segmentSummary(Tables.orders(s, dir), Tables.customer(s, dir))),

    // TPC-H Q3 shape: selective dim filter -> 3-way join -> top-k by
    // revenue. The segment filter reaches the customer scan, the dim
    // join broadcasts, the lineitem date filter pushes to parquet.
    "q3_shipping_priority" -> ((s, dir) => {
      val cut = "1998-01-01"
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit(cut))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-table snowflake with the co-location predicate
    // (supplier nation = customer nation), revenue per nation.
    "q5_region_revenue" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
      val su = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"))
    }),

    // TPC-H Q7 shape: bilateral shipping volume between two nations by
    // ship year. The nation pair filters push into BOTH broadcast dims
    // BEFORE the fact joins — the supplier and customer sides each
    // shrink to one nation's keys, so the big lineitem⋈orders shuffle
    // carries only relevant rows; the pair-direction predicate then
    // runs on the joined (tiny-dim) columns. Volume sums in exact
    // decimals.
    "q7_nation_volume" -> ((s, dir) => {
      val pair = Seq("NATION_18", "NATION_19")
      val n1 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val su = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      val cu = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2)))).as("volume"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      li.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cu), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("volume")).cast("double").as("volume"))
    }),

    // TPC-H Q10 shape: returned-items revenue per customer x nation,
    // top-k debtors. Return-flag filter pushes to the lineitem scan;
    // both dims broadcast; ranking takes the native top-k via
    // orderBy+limit over the (tiny) aggregate output.
    "q10_returned_items" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    "a11_monthly_trend" -> ((s, dir) =>
      Dashboard.monthlyTrend(Tables.orders(s, dir))),

    "a12_topk_priority" -> ((s, dir) =>
      Dashboard.topK(Tables.orders(s, dir), "o_orderpriority", 7)),

    "a7_headline_metrics" -> ((s, dir) =>
      Dashboard.headlineMetrics(Tables.orders(s, dir))),

    // Ordered conversion funnel (view → click → purchase, strictly
    // increasing event time per user). Each stage is one filtered
    // per-user min-aggregation joined to the previous stage on
    // user_id — partial-aggregatable, shuffles only user-keyed rows,
    // never materializes event sequences. The stage counts are
    // single-row aggregates unioned at the end.
    "events_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("view_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("click_ts"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      def stage(df: DataFrame, label: String) =
        df.agg(count(lit(1)).as("n_users")).select(lit(label).as("stage"), col("n_users"))
      stage(v, "1_view").unionAll(stage(c, "2_click")).unionAll(stage(p, "3_purchase"))
    }),

    // Hourly anomaly detection: per-type z-scores of event counts over
    // the COMPLETE hourly grid (silent hours count as zero — omitting
    // them biases the mean up and hides dropouts). All moments are sums
    // of integers, exact under any partitioning; sqrt/division are
    // correctly-rounded IEEE ops, so no decimal shuffle-guard is
    // needed. Stats are a per-type aggregate broadcast back onto the
    // grid (5 rows — a broadcast hash join, not a window).
    "events_anomaly" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      val hourly = ev.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).cast("long").as("n_events"))
      val bounds = ev.agg(min(col("h")), max(col("h"))).head()
      val (h0, h1) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val grid = ev.select(col("event_type")).distinct()
        .select(col("event_type"),
          explode(sequence(lit(h0), lit(h1), expr("interval 1 hour"))).as("h"))
      val full = grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
      val stats = full.groupBy(col("event_type")).agg(
          count(lit(1)).cast("double").as("n_hours"),
          sum(col("n_events")).cast("double").as("s1"),
          sum(col("n_events") * col("n_events")).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n_hours")).as("mean"),
          sqrt(col("s2") / col("n_hours") -
            (col("s1") / col("n_hours")) * (col("s1") / col("n_hours"))).as("std"))
      full.join(stats, "event_type")
        .select(col("event_type"), col("h").as("hour"), col("n_events"),
          round((col("n_events").cast("double") - col("mean")) / col("std"), 4).as("z"))
        .filter(abs(col("z")) >= 2.0)
    }),

    // Inter-arrival gap statistics per event type via lag(): count,
    // max, mean and >10-min tally of consecutive-event gaps. Gaps are
    // exact microsecond longs (sums exact under any partitioning; the
    // mean divides at the end), ties broken by event_id so the lag
    // order is engine-identical. The per-type window is one ordered
    // run over that type's rows — at 100 TB shard it by (type, day)
    // with a boundary-row handoff; here types are few and the demo
    // keeps the exact global form.
    "events_gap_stats" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
          max(col("gap_us")).as("max_gap_us"),
          sum(when(col("gap_us") > 600000000L, 1).otherwise(0)).cast("long")
            .as("n_gaps_gt10m"),
          sum(col("gap_us")).as("sg"))
        // half-up integer division, never a float round — round(double, 2)
        // ties resolve differently across engines (see ts_gap_fill)
        .withColumn("avg_gap_us",
          expr("(sg * 200 + n_gaps) div (2 * n_gaps)").cast("double") / lit(100.0))
        .drop("sg")
    }),

    // First-order Markov transition matrix over per-user event
    // sequences: count (prev_type → type) transitions, plus the
    // row-normalized probability by half-up integer division (exact,
    // engine-portable). The lag window partitions by user — a
    // per-user hash shuffle, parallel across users, state bounded by
    // one row of lookback; the transition matrix itself is
    // #types² rows.
    "events_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // localCheckpoint: the (#types² ≤ 25-row) matrix feeds both the
      // output and the row totals — without it each branch re-executes
      // the data-sized window + aggregation
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .localCheckpoint()
      val totals = tr.groupBy(col("prev_type"))
        .agg(sum(col("n")).as("row_total"))
      tr.join(broadcast(totals), "prev_type")
        .select(col("prev_type"), col("event_type"), col("n"),
          (expr("(n * 2000000 + row_total) div (2 * row_total)")
            .cast("double") / lit(1e6)).as("p"))
    }),

    // Cohort retention: users bucketed by first-activity day, counted
    // distinct per (cohort, day-offset). One per-user min, one
    // user-keyed equi-join back onto events, one count-distinct agg —
    // the cohort matrix stays bounded by (days × days) regardless of
    // event volume.
    "events_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
      ev.join(cohort, "user_id")
        .select(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "j1_star_join" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, order_date
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "a11_monthly_trend" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin,

    "a12_topk_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY 1
        |ORDER BY cnt DESC, o_orderpriority LIMIT 7""".stripMargin,

    "a7_headline_metrics" ->
      """SELECT COUNT(*) AS total_orders,
        |  COUNT(DISTINCT o_custkey) AS distinct_customers,
        |  CAST(MAX(o_orderdate) AS DATE) AS latest_order_date,
        |  (SELECT o_orderpriority FROM orders GROUP BY o_orderpriority
        |   ORDER BY COUNT(*) DESC, o_orderpriority LIMIT 1) AS top_priority
        |FROM orders""".stripMargin,

    "events_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS view_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(ts) AS click_ts FROM events e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND ts > view_ts GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(ts) AS purchase_ts FROM events e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > click_ts GROUP BY 1)
        |SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p""".stripMargin,

    "events_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h FROM events),
        |hourly AS (
        |  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY 1, 2),
        |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(
        |    (SELECT h0 FROM b), (SELECT h1 FROM b), INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT DISTINCT event_type FROM ev)),
        |fg AS (
        |  SELECT g.event_type, g.h, COALESCE(n, 0) AS n_events
        |  FROM grid g LEFT JOIN hourly USING (event_type, h)),
        |stats AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS DOUBLE) AS n_hours,
        |    CAST(SUM(n_events) AS DOUBLE) AS s1,
        |    CAST(SUM(n_events * n_events) AS DOUBLE) AS s2
        |  FROM fg GROUP BY 1)
        |SELECT f.event_type, f.h AS hour, f.n_events,
        |  round((CAST(f.n_events AS DOUBLE) - s1 / n_hours) /
        |    sqrt(s2 / n_hours - (s1 / n_hours) * (s1 / n_hours)), 4) AS z
        |FROM fg f JOIN stats USING (event_type)
        |WHERE abs(round((CAST(f.n_events AS DOUBLE) - s1 / n_hours) /
        |    sqrt(s2 / n_hours - (s1 / n_hours) * (s1 / n_hours)), 4)) >= 2.0""".stripMargin,

    "events_gap_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |    date_diff('microsecond',
        |      lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
        |      ts) AS gap_us
        |  FROM events)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  MAX(gap_us) AS max_gap_us,
        |  CAST(SUM(CASE WHEN gap_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gaps_gt10m,
        |  CAST((SUM(gap_us) * 200 + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
        |    / 100 AS avg_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,

    "events_transitions" ->
      """WITH tr AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type,
        |    event_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, SUM(n) AS row_total FROM c GROUP BY 1)
        |SELECT c.prev_type, event_type, n,
        |  CAST((n * 2000000 + row_total) // (2 * row_total) AS DOUBLE)
        |    / 1000000 AS p
        |FROM c JOIN t ON c.prev_type = t.prev_type""".stripMargin,

    "events_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, d) AS BIGINT) AS day_offset,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
  )
}
