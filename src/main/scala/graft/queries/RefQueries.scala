package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Entry
import graft.SparkEntry.{table => t}
import graft.catalog.{CatalogBuilder, WeekBins}

/** Reference-operator queries over the driver's synthetic tables
  * (TESTDATA.md), each paired with DuckDB-runnable oracle SQL in its
  * [[graft.Entry]]. Every aggregate column is aliased identically in
  * both forms (the driver's compare sorts columns by name), and every
  * floating-point output is computed through exact DECIMAL arithmetic before
  * a final cast to DOUBLE so Spark and DuckDB produce bit-identical values
  * regardless of row order.
  *
  * Operator coverage (SURVEY.md §2): O10 (date parse), O14 (class join),
  * O15 (pair metric), O16 (weekly histogram w/ empty bins), O17 (letter
  * labels), O18 (placeholder alignment), O19 (frequency map), O21/O22
  * (sort/limit), O23 (first match), plus TPC-H-shaped join/agg headliners
  * exercising the physical paths that matter at scale (broadcast joins,
  * shuffle joins, partial aggregation, top-k).
  */
object RefQueries extends graft.QueryModule {

  /** Thursday-anchored bin range covering the `events` table (Jan 2024) with
    * trailing empty bins: 2023-12-28 + 10 weeks. */
  private val Edge: LocalDate = LocalDate.parse("2023-12-28")
  private val NBins = 10
  private val EdgeSql = "DATE '2023-12-28'"

  /** [[graft.SparkEntry.events]] with exact-integer time columns, since all
    * downstream time arithmetic is exact-integer:
    *   - `ts_ns`  BIGINT — exact epoch nanoseconds (µs × 1000, equal to
    *              DuckDB's epoch_us(ts) × 1000);
    *   - `d`      DATE   — the event day. */
  private def events(s: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.events(s, dir)
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("d", to_date(timestamp_micros(expr("ts_ns div 1000"))))

  /** Exact decimal product of a money double and (1 - discount double):
    * cast each operand to DECIMAL first so the multiply is exact and
    * engine-order-independent. */
  private def discPrice(price: org.apache.spark.sql.Column, disc: org.apache.spark.sql.Column) =
    price.cast("decimal(18,2)") * (lit(1.0) - disc).cast("decimal(5,2)")

  // ---------------------------------------------------------------- queries

  val entries: Seq[Entry] = Seq(
    // O16 — weekly histogram, empty bins retained
    Entry("q01_week_histogram", (s, dir) => {
      WeekBins.histogram(events(s, dir).select(col("d")), "d", Edge, NBins)
        .orderBy("bin")
    }, Some(
      s"WITH $HistCte SELECT bin, bin_start, cnt FROM hist ORDER BY bin")),

    // O17 — letter labels over the bin dimension (counter skips empty bins),
    // through the catalog's own Spark labeling
    Entry("q02_week_labels", (s, dir) => {
      CatalogBuilder.labeledBins(events(s, dir).select(col("d")), "d", Edge, NBins)
        .select("bin", "cnt", "class")
        .orderBy("bin")
    }, Some(
      s"""WITH $HistCte,
         |ranked AS (SELECT bin, cnt, sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) OVER (ORDER BY bin) AS r FROM hist)
         |SELECT bin, cnt, CASE WHEN cnt > 0 THEN $LetterSql ELSE '0' END AS class FROM ranked ORDER BY bin""".stripMargin)),

    // O17/O18 — per-row class assignment (labels broadcast back onto rows)
    Entry("q03_event_classes", (s, dir) => {
      val ev = events(s, dir)
      val e = ev
        .select(col("event_id"), WeekBins.weekIndex(col("d"), Edge, NBins).as("bin"))
        .where(col("bin").isNotNull)
      val labeled = CatalogBuilder.labeledBins(ev.select(col("d")), "d", Edge, NBins)
        .where(col("cnt") > 0).select("bin", "class")
      e.join(broadcast(labeled), Seq("bin")).select("event_id", "class").orderBy("event_id")
    }, Some(
      s"""WITH $HistCte,
         |ranked AS (SELECT bin, cnt, sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) OVER (ORDER BY bin) AS r FROM hist),
         |labeled AS (SELECT bin, $LetterSql AS class FROM ranked WHERE cnt > 0)
         |SELECT e.event_id, l.class
         |FROM (SELECT event_id, $BinSql AS bin
         |      FROM events
         |      WHERE $BinRangeSql) e
         |JOIN labeled l USING (bin) ORDER BY e.event_id""".stripMargin)),

    // O14 — class equi-join + grouped collect (orders per customer)
    Entry("q04_class_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(
          count(o("o_orderkey")).as("n_orders"),
          array_join(
            transform(sort_array(collect_list(o("o_orderkey"))), _.cast("string")),
            ",").as("order_keys"))
        .orderBy("c_custkey")
    }, Some(
      """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
        |  coalesce(array_to_string(list_sort(list(o.o_orderkey) FILTER (o.o_orderkey IS NOT NULL)), ','), '') AS order_keys
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin)),

    // O15 — faithful pairs metric: Σ_w P_w² · V_w (purchase×view by week)
    Entry("q05_pairs_metric", (s, dir) => {
      val e = events(s, dir)
        .select(WeekBins.weekIndex(col("d"), Edge, NBins).as("bin"), col("event_type"))
        .where(col("bin").isNotNull)
      val p = e.where(col("event_type") === "purchase").groupBy("bin")
        .agg(count(lit(1)).as("pc"))
      val v = e.where(col("event_type") === "view").groupBy("bin")
        .agg(count(lit(1)).as("vc"))
      p.join(v, Seq("bin"))
        .agg(sum(col("pc") * col("pc") * col("vc")).as("pairs"))
    }, Some(
      // sum is CAST to BIGINT: DuckDB returns HUGEINT (decimal128) for a bare
      // BIGINT sum while Spark writes int64 — the driver's cell hash is
      // type-sensitive even when values match (round-1 red row).
      s"""WITH e AS (
         |  SELECT $BinSql AS bin, event_type
         |  FROM events
         |  WHERE $BinRangeSql),
         |p AS (SELECT bin, count(*) AS pc FROM e WHERE event_type = 'purchase' GROUP BY bin),
         |v AS (SELECT bin, count(*) AS vc FROM e WHERE event_type = 'view' GROUP BY bin)
         |SELECT CAST(sum(p.pc * p.pc * v.vc) AS BIGINT) AS pairs FROM p JOIN v USING (bin)""".stripMargin)),

    // O19 — frequency map
    Entry("q06_freq_map", (s, dir) =>
      events(s, dir).groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type"), Some(
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type ORDER BY event_type")),

    // O21/O22 — deterministic sort + limit
    Entry("q07_sort_limit", (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .limit(50)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate").cast("date").as("ship_date")), Some(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 50""".stripMargin)),

    // O23 — first match per group
    Entry("q08_first_match", (s, dir) =>
      // exact µs (ts_ns div 1000), matching DuckDB's epoch_us(ts)
      // TIMESTAMP, and the fixed datasets have no same-µs collisions per
      // user, so min/min_by agree exactly across engines.
      events(s, dir).groupBy("user_id")
        .agg(min(expr("ts_ns div 1000")).as("first_ts_us"),
          min_by(col("event_type"), col("ts_ns")).as("first_type"))
        .orderBy("user_id"), Some(
      """SELECT user_id, min(epoch_us(ts)) AS first_ts_us, min_by(event_type, ts) AS first_type
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // O10 — S2-format date parse (name synthesized from ts, then parsed back)
    Entry("q09_date_parse_s2", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          concat(date_format(col("d"), "yyyyMMdd"), lit("T000000_X_T46RCT")).as("name"))
        .select(col("event_id"), graft.catalog.DateParse.s2AcqDate(col("name")).as("acq_date"))
        .orderBy("event_id"), Some(
      """SELECT event_id,
        |  CAST(strptime(substr(strftime(ts, '%Y%m%d') || 'T000000_X_T46RCT', 1, 8), '%Y%m%d') AS DATE) AS acq_date
        |FROM events ORDER BY event_id""".stripMargin)),

    // O10 — HLS-format date parse (year + ordinal day-of-year)
    Entry("q10_date_parse_hls", (s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          concat(lit("HLS.L30.T46RCT."), date_format(col("d"), "yyyyDDD"),
            lit("T000000.v2.0")).as("name"))
        .select(col("event_id"), graft.catalog.DateParse.hlsAcqDate(col("name")).as("acq_date"))
        .orderBy("event_id"), Some(
      """SELECT event_id,
        |  CAST(make_date(CAST(substr(f, 1, 4) AS INT), 1, 1) + (CAST(substr(f, 5, 3) AS INT) - 1) AS DATE) AS acq_date
        |FROM (SELECT event_id, split_part('HLS.L30.T46RCT.' || strftime(ts, '%Y%j') || 'T000000.v2.0', '.', 4) AS f
        |      FROM events) ORDER BY event_id""".stripMargin)),

    // headline agg — TPC-H Q1 shape (partial agg + tiny shuffle)
    Entry("q11_pricing_summary", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // headline join — revenue top-10 (shuffle join + top-k)
    Entry("q12_revenue_topk", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      li.groupBy("l_orderkey")
        .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"))
        .join(o, col("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderkey"), col("revenue"), col("o_orderdate").cast("date").as("order_date"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }, Some(
      """SELECT o.o_orderkey, r.revenue, CAST(o.o_orderdate AS DATE) AS order_date
        |FROM (SELECT l_orderkey,
        |        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue
        |      FROM lineitem GROUP BY l_orderkey) r
        |JOIN orders o ON r.l_orderkey = o.o_orderkey
        |ORDER BY r.revenue DESC, o.o_orderkey LIMIT 10""".stripMargin)),

    // headline broadcast — customer ⋈ nation ⋈ region rollup
    Entry("q13_region_rollup", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))
        .orderBy("r_name", "n_name")
    }, Some(
      """SELECT r.r_name, n.n_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin)),

    // distinct aggregation — exact distinct users/days per event type
    Entry("q17_distinct_agg", (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("d")).as("n_days"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type"), Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // grouping sets — ROLLUP over the pricing summary (partial-agg reuse)
    Entry("q15_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // semi/anti joins — customers with vs without orders
    Entry("q16_semi_anti", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("status"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("status"))
      semi.unionByName(anti).orderBy("c_custkey", "status")
    }, Some(
      """SELECT c_custkey, 'has_orders' AS status FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS status FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey, status""".stripMargin)),

    // analytic window — top-3 orders per customer (rank + tiebreak)
    Entry("q14_window_topn", (s, dir) => {
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("total_price"))
        .orderBy("o_custkey", "rn")
    }, Some(
      """SELECT o_custkey, rn, o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // sequential conversion FUNNEL: signup → first click at-or-after it →
    // first purchase at-or-after that click, per user. Three chained
    // min-aggregates keyed on user_id — only (user_id, µs) pairs ride the
    // shuffles, and every stage is exact integer microseconds so the
    // min/filter chain is bit-portable. The stage column counts how deep
    // each user converted.
    Entry("q83_funnel", (s, dir) => {
      val e = events(s, dir).withColumn("t_us", expr("ts_ns div 1000"))
        .select(col("user_id"), col("event_type"), col("t_us"))
      val su = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t_us")).as("t_signup"))
      val cl = e.where(col("event_type") === "click")
        .join(su, "user_id")
        .where(col("t_us") >= col("t_signup"))
        .groupBy("user_id").agg(min(col("t_us")).as("t_click"))
      val pu = e.where(col("event_type") === "purchase")
        .join(cl, "user_id")
        .where(col("t_us") >= col("t_click"))
        .groupBy("user_id").agg(min(col("t_us")).as("t_purchase"))
      su.join(cl, Seq("user_id"), "left").join(pu, Seq("user_id"), "left")
        .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"),
          (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0) +
            when(col("t_purchase").isNotNull, 1).otherwise(0))
            .cast("int").as("stage"))
        .orderBy("user_id")
    }, Some(
      // the same three chained min-aggregates; all integer µs
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |su AS (SELECT user_id, min(t) AS t_signup FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |cl AS (SELECT e.user_id, min(e.t) AS t_click FROM e JOIN su USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t >= su.t_signup GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.t) AS t_purchase FROM e JOIN cl USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t >= cl.t_click GROUP BY e.user_id)
        |SELECT su.user_id, su.t_signup, cl.t_click, pu.t_purchase,
        |  CAST(1 + CASE WHEN cl.t_click IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN pu.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
        |FROM su LEFT JOIN cl USING (user_id) LEFT JOIN pu USING (user_id)
        |ORDER BY su.user_id""".stripMargin)),

    // UNPIVOT/melt: the wide per-type stats row folded to (type, metric,
    // value) — the long-format hand-off shape. Integer metrics only.
    Entry("q89_unpivot", (s, dir) => {
      val wide = events(s, dir).groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value")).cast("long")).as("sum_floor"),
        countDistinct(col("user_id")).as("n_users"))
      wide.unpivot(Array(col("event_type")),
          Array(col("n_events"), col("sum_floor"), col("n_users")),
          "metric", "metric_value")
        .orderBy("event_type", "metric")
    }, Some(
      // the melt expressed as the equivalent UNION ALL (engine-neutral)
      """WITH w AS (
        |  SELECT event_type, count(*) AS n_events,
        |    CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor,
        |    count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY event_type)
        |SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM w
        |UNION ALL
        |SELECT event_type, 'sum_floor', sum_floor FROM w
        |UNION ALL
        |SELECT event_type, 'n_users', n_users FROM w
        |ORDER BY event_type, metric""".stripMargin)),

    // LAG window: inter-event gaps per user (the session-gap raw signal
    // q50 thresholds). lag over exact integer µs with an (t, event_id)
    // tie-break order so equal timestamps sequence identically in both
    // engines; first event per user has a NULL gap.
    Entry("q88_event_gaps", (s, dir) => {
      val e = events(s, dir).withColumn("t_us", expr("ts_ns div 1000"))
        .select(col("user_id"), col("event_id"), col("t_us"))
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      e.withColumn("prev_t_us", lag(col("t_us"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("t_us"),
          col("prev_t_us"), (col("t_us") - col("prev_t_us")).as("gap_us"))
        .orderBy("event_id")
    }, Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events)
        |SELECT event_id, user_id, t_us,
        |  lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev_t_us,
        |  t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap_us
        |FROM e ORDER BY event_id""".stripMargin)),

    // moment-based CORRELATION with exact integer accumulators: Pearson r
    // between floor(value) and hour-of-day per event type. The five
    // accumulators (Σx, Σy, Σxy, Σx², Σy²) are integer sums — map-side
    // combinable and order-free, unlike a float corr() whose partial-agg
    // order drifts — and the final r is one fixed tree of exactly-rounded
    // double ops (sqrt is IEEE-exact), so the statistic replays
    // bit-for-bit. At larger scales the accumulators widen to DECIMAL;
    // the shape is unchanged.
    Entry("q87_correlation", (s, dir) => {
      val e = events(s, dir).withColumn("t_us", expr("ts_ns div 1000"))
        .select(col("event_type"),
          floor(col("value")).cast("long").as("x"),
          expr("(t_us div 3600000000) % 24").as("y"))
      e.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"),
          (col("sx").cast("double") / col("n").cast("double")).as("mean_x"),
          (col("sy").cast("double") / col("n").cast("double")).as("mean_y"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("corr_xy"))
        .orderBy("event_type")
    }, Some(
      // identical integer accumulators, identical final double tree
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value) AS BIGINT) AS x,
        |    (epoch_us(ts) // 3600000000) % 24 AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
        |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_xy
        |FROM a ORDER BY event_type""".stripMargin)),

    // RANGE-frame sliding window: per user, each event's trailing-1-hour
    // count and floored-value sum — the time-decayed feature shape
    // (rate limiting, burst detection). RANGE frames on exact integer µs:
    // tie rows are peers in BOTH engines, aggregates are integers, so the
    // frame semantics replay bit-for-bit. One (user_id) shuffle; the
    // frame scan is a single in-partition sweep.
    Entry("q86_sliding_window", (s, dir) => {
      val e = events(s, dir).withColumn("t_us", expr("ts_ns div 1000"))
        .select(col("user_id"), col("event_id"), col("t_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("t_us")
        .rangeBetween(-3600000000L, 0L)
      e.withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_floor_1h", sum(floor(col("value")).cast("long")).over(w))
        .select("event_id", "user_id", "t_us", "n_1h", "sum_floor_1h")
        .orderBy("event_id")
    }, Some(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us, value FROM events)
        |SELECT event_id, user_id, t_us,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(floor(value) AS BIGINT)) OVER w AS BIGINT) AS sum_floor_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // O9 — gdalwarp shell-line codegen over a synthesized listing, both
    // sensor modes (Landsat: require .tif, same out name; Sentinel: keep all
    // non-xml, out name + ".tif" — fde:193 vs fde:207 quirks)
    Entry("q18_gdalwarp_codegen", (s, dir) => {
      val listing = t(s, dir, "part").select(
        concat(lit("acq_"), pmod(col("p_partkey"), lit(50)).cast("string")).as("acq_dir"),
        concat(lit("scene_"), col("p_partkey").cast("string"),
          when(pmod(col("p_partkey"), lit(3)) === 0, ".tif")
            .when(pmod(col("p_partkey"), lit(3)) === 1, ".xml")
            .otherwise(".jp2")).as("file_name"))
      val landsat = graft.raster.CropScript.gdalwarpLines(listing,
          "cut.gpkg", "/in/L", "/out/L", requireTif = true, appendTifSuffix = false)
        .withColumn("mode", lit("landsat"))
      val sentinel = graft.raster.CropScript.gdalwarpLines(listing,
          "cut.gpkg", "/in/S", "/out/S", requireTif = false, appendTifSuffix = true)
        .withColumn("mode", lit("sentinel"))
      landsat.unionByName(sentinel).orderBy("mode", "line")
    }, Some(
      """WITH listing AS (
        |  SELECT 'acq_' || CAST(p_partkey % 50 AS VARCHAR) AS acq_dir,
        |    'scene_' || CAST(p_partkey AS VARCHAR) ||
        |      CASE p_partkey % 3 WHEN 0 THEN '.tif' WHEN 1 THEN '.xml' ELSE '.jp2' END AS file_name
        |  FROM part)
        |SELECT line, mode FROM (
        |  SELECT 'gdalwarp -cutline cut.gpkg -crop_to_cutline /in/L/' || acq_dir || '/' || file_name
        |      || ' /out/L/' || acq_dir || '/' || file_name AS line, 'landsat' AS mode
        |  FROM listing WHERE file_name NOT LIKE '%xml%' AND file_name LIKE '%.tif%'
        |  UNION ALL
        |  SELECT 'gdalwarp -cutline cut.gpkg -crop_to_cutline /in/S/' || acq_dir || '/' || file_name
        |      || ' /out/S/' || acq_dir || '/' || file_name || '.tif' AS line, 'sentinel' AS mode
        |  FROM listing WHERE file_name NOT LIKE '%xml%')
        |ORDER BY mode, line""".stripMargin)),

    // O11 — anchored band-token predicate + deterministic beta stack order
    // (quirk Q7: `_B20.` must NOT match the B02 token; xml sidecars dropped)
    Entry("q19_band_files", (s, dir) => {
      val bands = graft.raster.Bands.LandsatBands
      val toks = Seq("B01", "B02", "B03", "B04", "B05", "B20", "B8", "B02")
      val named = t(s, dir, "part").select(
        concat(lit("T46RCT_"), col("p_partkey").cast("string"), lit("_"),
          element_at(typedLit(toks), (pmod(col("p_partkey"), lit(8)) + 1).cast("int")),
          when(pmod(col("p_partkey"), lit(8)) === 7, ".xml").otherwise(".tif")).as("name"))
      named
        .where(graft.raster.Bands.bandFileFilter(col("name"), bands))
        .select(col("name"),
          graft.raster.Bands.bandOf(col("name"), bands).as("band"))
        .withColumn("stack_pos", array_position(typedLit(bands), col("band")))
        .orderBy("name")
    }, Some(
      """WITH named AS (
        |  SELECT 'T46RCT_' || CAST(p_partkey AS VARCHAR) || '_' ||
        |    CASE p_partkey % 8 WHEN 0 THEN 'B01' WHEN 1 THEN 'B02' WHEN 2 THEN 'B03'
        |      WHEN 3 THEN 'B04' WHEN 4 THEN 'B05' WHEN 5 THEN 'B20' WHEN 6 THEN 'B8' ELSE 'B02' END ||
        |    CASE WHEN p_partkey % 8 = 7 THEN '.xml' ELSE '.tif' END AS name
        |  FROM part)
        |SELECT name, regexp_extract(name, '[._](B02|B03|B04|B05)[._]', 1) AS band,
        |  CAST(CASE regexp_extract(name, '[._](B02|B03|B04|B05)[._]', 1)
        |    WHEN 'B02' THEN 1 WHEN 'B03' THEN 2 WHEN 'B04' THEN 3 WHEN 'B05' THEN 4 END AS BIGINT) AS stack_pos
        |FROM named
        |WHERE regexp_matches(name, '[._](B02|B03|B04|B05)[._]') AND name NOT LIKE '%xml%'
        |ORDER BY name""".stripMargin)),

    // sort-based aggregation path — exact interpolated percentiles
    // (quantile_cont twin; quantities are small integers so the
    // interpolation arithmetic is exact in both engines)
    Entry("q34_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"), Some(
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // JSON path extraction over the events props column + grouped stats
    Entry("q36_props_json", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }, Some(
      // sum cast to BIGINT: DuckDB widens BIGINT sums to HUGEINT (q05 lesson)
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // set operations — INTERSECT/EXCEPT distinct semantics
    Entry("q37_set_ops", (s, dir) => {
      val o = t(s, dir, "orders")
      val jan = o.where(month(col("o_orderdate")) === 1).select("o_custkey")
      val feb = o.where(month(col("o_orderdate")) === 2).select("o_custkey")
      jan.intersect(feb).select(col("o_custkey"), lit("both").as("status"))
        .unionByName(jan.except(feb).select(col("o_custkey"), lit("jan_only").as("status")))
        .orderBy("o_custkey", "status")
    }, Some(
      """SELECT o_custkey, status FROM (
        |  SELECT o_custkey, 'both' AS status FROM (
        |    SELECT o_custkey FROM orders WHERE date_part('month', o_orderdate) = 1
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE date_part('month', o_orderdate) = 2)
        |  UNION ALL
        |  SELECT o_custkey, 'jan_only' AS status FROM (
        |    SELECT o_custkey FROM orders WHERE date_part('month', o_orderdate) = 1
        |    EXCEPT
        |    SELECT o_custkey FROM orders WHERE date_part('month', o_orderdate) = 2))
        |ORDER BY o_custkey, status""".stripMargin)),

    // grouping sets — full CUBE (q15 covers ROLLUP)
    Entry("q38_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // pivot — weekly event counts, one column per event type (explicit
    // value list so the output schema is deterministic)
    Entry("q39_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .withColumn("d", to_date(col("ts")))
        .select(WeekBins.epochWeek(col("d")).as("week"), col("event_type"))
        .groupBy("week")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
        .orderBy("week")
    }, Some(
      """SELECT CAST(floor(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin)),

    // O30 — Python list-repr round-trip: build the repr (O5 quirk Q3) and
    // re-parse it (mfo:151), per customer over their sorted order keys
    Entry("q25_listrepr_roundtrip", (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey").cast("string"))).as("keys"))
        .select(col("o_custkey"),
          graft.pairing.Pairing.pyListRepr(col("keys")).as("repr"))
        .select(col("o_custkey"), col("repr"),
          array_join(graft.pairing.Pairing.parsePyListRepr(col("repr")), "|").as("parsed"))
        .orderBy("o_custkey"), Some(
      """WITH k AS (
        |  SELECT o_custkey, list_sort(list(CAST(o_orderkey AS VARCHAR))) AS keys
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT o_custkey,
        |    '[' || array_to_string(list_transform(keys, x -> '''' || x || ''''), ', ') || ']' AS repr
        |  FROM k)
        |SELECT o_custkey, repr,
        |  array_to_string(regexp_extract_all(repr, '''([^'']*)''', 1), '|') AS parsed
        |FROM r ORDER BY o_custkey""".stripMargin)))

  // ----------------------------------------------------------------- oracle

  /** DuckDB letter expression for rank r (1-based, bijective base-26, two
    * letters suffice below rank 703). */
  private lazy val LetterSql =
    "CASE WHEN r <= 26 THEN chr(96 + CAST(r AS INT)) " +
      "ELSE chr(97 + CAST(floor((r - 27) / 26) AS INT)) || chr(97 + CAST((r - 27) % 26 AS INT)) END"

  /** Week-bin index of an events row, mirroring [[WeekBins.weekIndex]] exactly:
    * half-open bins with a right-CLOSED last bin (numpy histogram semantics),
    * so a date landing exactly on the final edge (d == nBins*7) maps to bin
    * nBins-1 instead of being dropped. */
  private lazy val BinSql =
    s"CASE WHEN datediff('day', $EdgeSql, CAST(ts AS DATE)) = ${NBins * 7} THEN ${NBins - 1} " +
      s"ELSE CAST(floor(datediff('day', $EdgeSql, CAST(ts AS DATE)) / 7.0) AS INT) END"
  private lazy val BinRangeSql =
    s"datediff('day', $EdgeSql, CAST(ts AS DATE)) BETWEEN 0 AND ${NBins * 7}"

  private lazy val HistCte =
    s"""bins AS (SELECT CAST(i AS INT) AS bin, $EdgeSql + CAST(i*7 AS INT) AS bin_start FROM range(0, $NBins) t(i)),
       |counts AS (
       |  SELECT $BinSql AS bin, count(*) AS cnt
       |  FROM events
       |  WHERE $BinRangeSql
       |  GROUP BY 1),
       |hist AS (SELECT b.bin, b.bin_start, coalesce(c.cnt, 0) AS cnt FROM bins b LEFT JOIN counts c USING (bin))""".stripMargin
}
