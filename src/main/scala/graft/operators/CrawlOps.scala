package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.seen.BloomShards

/** The reference's queue/dataflow operator families (SURVEY.md §2)
  * re-expressed as declarative Dataset operators over the driver's generic
  * tables — `events` plays the frontier (event_id ≈ task id, user_id ≈
  * host, event_type ≈ task type/status, ts ≈ lastUpdate), customer/nation
  * the project dims, lineitem the bulk corpus. Each function is one
  * operator family with a DuckDB-SQL oracle twin in SparkEntry.
  */
object CrawlOps {

  /** A1/A2 + B1 — queue scan with status/type predicate + deterministic
    * order + limit (`MongoQueueTaskProvider.scala:33-48`). The filter and
    * projection push down to the Parquet scan; the limit compiles to
    * TakeOrderedAndProject, never a global sort. */
  def leaseScan(events: DataFrame, taskType: String = "click", n: Int = 100): DataFrame =
    events.filter(col("event_type") === taskType)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
      .limit(n)

  /** A1 per-taskType lease scan (`QueueTaskServiceImpl.scala:32-55` leases
    * one batch per task type): the top-`n` wait rows of EVERY type by the
    * deterministic order, in one windowed pass — no per-type driver loop. */
  def leaseScanByType(events: DataFrame, n: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** B2 + F7 — lease-expiry sweep (`QueueTaskRecover.scala:32-36`): rows
    * older than the cutoff flip back to wait. */
  def leaseExpiry(events: DataFrame, cutoff: String = "2024-01-15 00:00:00"): DataFrame =
    events.filter(col("event_type") === "view")
      .select(col("event_id"),
        when(col("ts") <= lit(cutoff).cast("timestamp"), "taskWait")
          .otherwise("taskInProgress").as("status"))
      .orderBy(col("event_id"))

  /** C1 + D1 — frontier × project dims broadcast join + outcome report
    * (`SqlQueueTaskProvider.scala:22`): both dims are broadcast, the fact
    * table shuffles once for the final aggregate. */
  def dimJoinReport(events: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("n_name"))

  /** The "seen" subset of users (the URL-seen set analog). */
  def seenUsers(customer: DataFrame): DataFrame =
    customer.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))

  /** C2 — existence anti-join: frontier candidates not yet seen
    * (`SqlQueueTaskProvider.scala:59-68`). */
  def seenAntiJoin(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(seenUsers(customer), col("user_id") === col("c_custkey"), "left_anti")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))

  /** R7 — the same anti-join computed through the sharded-bloom pre-filter
    * + exact confirm path the engine's link discovery runs
    * ([[BloomShards.notSeen]]). Result is IDENTICAL to [[seenAntiJoin]] by
    * construction — that identity is the oracle. */
  def seenBloomProbe(events: DataFrame, customer: DataFrame): DataFrame = {
    val seen = seenUsers(customer)
    BloomShards.notSeen(events.withColumnRenamed("user_id", "c_custkey"), seen, "c_custkey",
        BloomShards.buildDf(seen, "c_custkey", 8), 8)
      .groupBy(col("c_custkey").as("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"))
  }

  /** C3/R3 — duplicate kill keeping the max id per duplicate key
    * (`SqlQueueTaskProvider.scala:73-77` keeps max id among waits). */
  def windowDedupKeepMax(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** R1 — per-host lease ranking with budget (north-star window):
    * top-`budget` rows per host by (priority desc, ts asc, id asc). */
  def perHostRank(events: DataFrame, budget: Int = 2): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    events.filter(col("event_type") === "click")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= budget)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** R2 — global batch cut: top-n overall by the same order, with the
    * in-batch sequence number (TakeOrderedAndProject + one narrow window
    * over ≤ n rows, never a full sort of the frontier). */
  def globalCutTopK(events: DataFrame, n: Int = 100): DataFrame = {
    val cut = events.select(col("event_id"), col("value"))
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(n)
    cut.withColumn("seq",
        row_number().over(Window.orderBy(col("value").desc, col("event_id").asc)))
      .select(col("seq"), col("event_id"), col("value"))
      .orderBy(col("seq"))
  }

  /** G2/G3 — retry split by attempt cap (`QueueTaskServiceImpl.scala:
    * 101-115`): attempt from the JSON props column, cap at 3. */
  def retrySplit(events: DataFrame, maxAttempts: Int = 3): DataFrame =
    events.filter(col("event_type") === "error")
      .select(col("event_id"),
        (get_json_object(col("props"), "$.k").cast("int") % 4).as("attempt"))
      .select(col("event_id"), col("attempt"),
        when(col("attempt") + 1 >= maxAttempts, "taskFailed")
          .otherwise("taskWait").as("new_status"),
        when(col("attempt") + 1 >= maxAttempts, col("attempt"))
          .otherwise(col("attempt") + 1).as("new_attempt"))
      .orderBy(col("event_id"))

  /** D1/D2 — per-outcome report (`SaveCrawlResultController.scala:52-58`). */
  def outcomeReport(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 4).as("avg_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .orderBy(col("event_type"))

  /** Skew-safe two-phase aggregation (§4.3.1 salting pattern): per-key
    * counts computed via a salted partial aggregate then a final merge.
    * Result ≡ plain groupBy — the oracle is the plain GROUP BY. */
  def saltedAgg(events: DataFrame, salts: Int = 8): DataFrame =
    events
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(salts.toLong)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
      .groupBy(col("user_id"))
      .agg(sum(col("pc")).as("n"), round(sum(col("ps")), 2).as("sum_value"))
      .orderBy(col("user_id"))

  /** F2 — deterministic politeness schedule: seeded xxhash64 delay per
    * (host, round), the engine's replacement for `RandomTimeout` (no SQL
    * oracle — DuckDB lacks xxhash64; parity with the simulator is the
    * CrawlEngineSpec gate instead). */
  def politenessSchedule(events: DataFrame, center: Long = 2L, radius: Long = 2L): DataFrame =
    events.select(col("user_id")).distinct()
      .select(col("user_id"), concat(lit("host"), col("user_id")).as("host"))
      .select(col("user_id"), col("host"), explode(sequence(lit(0), lit(3))).as("round"))
      .withColumn("delay_ticks",
        lit(center) - lit(radius) +
          pmod(xxhash64(concat(col("host"), lit(":"), col("round"))), lit(2 * radius + 1)))
      .withColumn("reopen_tick", col("round") + 1 + col("delay_ticks"))
      .orderBy(col("user_id"), col("round"))

  /** TPC-H Q1-shaped pricing summary over the bulk table: partial+final
    * aggregation, no window, one shuffle on the 2-value grouping key. */
  def pricingSummary(lineitem: DataFrame, maxShipdate: String = "1998-09-02"): DataFrame =
    lineitem.filter(col("l_shipdate") <= lit(maxShipdate).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Multi-join top-k: revenue per nation (broadcast dims, shuffle join on
    * the two fact tables, then a 25-row aggregate — AQE picks the join
    * strategy; nation/customer broadcast). */
  def revenueByNation(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, nation: DataFrame, k: Int = 5): DataFrame =
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
      .limit(k)

  /** Pushdown showcase: range filter + 2-column projection + count — the
    * scan must show PushedFilters + a 2-column ReadSchema (asserted in
    * PlanSpec). */
  def scanPushdown(lineitem: DataFrame,
                   lo: String = "1996-01-01", hi: String = "1997-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))

  /** Exact distinct-count per group (seen-set cardinality metric D2). */
  def distinctUsers(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** Tumbling event-time window aggregate (streaming S1 semantics in batch
    * form; the same frame runs under readStream in StreamingSpec). */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Event-time sessionization via Spark's native `session_window` — the
    * disorder-robust twin of [[sessionize]]: sessions merge correctly no
    * matter how input is split or ordered (the engine computes gaps in
    * event time, not arrival order), which is the production answer to the
    * cross-batch ordering caveat on StreamOps.sessionCounts. The same
    * frame runs under readStream with a watermark.
    *
    * Boundary semantics (pinned by StreamOpsSpec's exact-gap test, because
    * it is easy to get wrong in both directions): Spark merges session
    * windows INCLUSIVELY at the boundary — an event landing exactly on the
    * previous window's end (diff == gap) joins the SAME session, and only
    * diff > gap starts a new one. That is precisely [[sessionize]]'s
    * `diff > gap` rule and the SQL oracle's, so the twins agree at every
    * boundary with the plain gap. `session_window.end` is last-event +
    * gap, so session_end subtracts the gap back out to equal max(ts). */
  def sessionizeWindow(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        (col("w.end") - expr(s"INTERVAL '$gapMinutes' MINUTE")).as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** Session assignment: a new session starts after a >30-min gap per user
    * (lag + running sum — the batch twin of mapGroupsWithState
    * sessionization in StreamingSpec). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > gapMinutes * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }
}
