package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The Processor-API escape hatch (SURVEY.md §2.11): arbitrary keyed
  * state + timers via `flatMapGroupsWithState` — the Spark analogue of
  * the reference's hand-rolled stateful processor
  * (PurchaseQuantityAlertTrasformer.java:21-122):
  *
  *   - per-(product, window) running sum in a keyed store   [A2/ST1]
  *   - "punctuator" that emits once per closed window        [W4/W7]
  *   - state deletion after emission (exactly-once emission) [ST4]
  *
  * Differences from the reference, by design: windows close on the
  * EVENT-TIME watermark, not wall clock (deterministic, replayable);
  * late data beyond the watermark is dropped instead of leaking state
  * forever (the reference's W6 bug).
  *
  * Scale: state lives in the per-partition StateStore (RocksDB provider
  * in production), hash-partitioned by product — the same layout the
  * reference gets from its repartition topic, but with partial
  * aggregation done by Spark per micro-batch.
  */
object ProcessorAlerts {

  case class PurchaseAmount(product_id: String, ts: Timestamp, amount: Double)
  case class Alert(product_id: String, window_start: Timestamp,
                   total_sum_per_minute: Double)
  /** Open windows per product: window-start millis → running sum. */
  case class WindowSums(sums: Map[Long, Double])

  private[streaming] val WindowMillis = 60000L

  /** Fold purchase amounts into per-window sums keyed by window-start
    * millis (A2: get-or-init + add).
    */
  private[streaming] def addToWindows(prior: Map[Long, Double],
      rows: Iterator[PurchaseAmount]): Map[Long, Double] =
    rows.foldLeft(prior) { (acc, p) =>
      val w = p.ts.getTime - p.ts.getTime % WindowMillis
      acc.updated(w, acc.getOrElse(w, 0.0) + p.amount)
    }

  /** Close every window whose end is at or before `bound`: returns the
    * alerts of the closed windows over `threshold`, in window order,
    * and the windows still open.
    */
  private[streaming] def closeWindows(productId: String,
      windows: Map[Long, Double], bound: Long,
      threshold: Double): (Seq[Alert], Map[Long, Double]) = {
    val (closed, open) = windows.partition {
      case (w, _) => w + WindowMillis <= bound
    }
    (closed.toSeq.sortBy(_._1).collect {
      case (w, sum) if sum > threshold => Alert(productId, new Timestamp(w), sum)
    }, open)
  }

  /** Build the typed purchase-amount stream from the joined projection
    * (purchasesWithProducts output).
    */
  def amounts(spark: SparkSession, joined: DataFrame): Dataset[PurchaseAmount] = {
    import spark.implicits._
    joined.select(
        col("product_id").cast("string").as("product_id"),
        col("ts").cast("timestamp").as("ts"),
        (col("purchase_quantity") * col("product_price")).cast("double").as("amount"))
      .as[PurchaseAmount]
  }

  /** Wall-clock punctuator variant — EXACT W7 fidelity: windows close
    * by PROCESSING time, like the reference's
    * `context.schedule(1m, WALL_CLOCK_TIME, this::sendAlerts)`
    * (PurchaseQuantityAlertTrasformer.java:33). Non-deterministic on
    * replay by construction (same as the reference); the event-time
    * variant below is the recommended default.
    */
  def alertsWallClock(spark: SparkSession, joined: DataFrame,
                      threshold: Double,
                      punctuatePeriod: String = "1 minute"): Dataset[Alert] = {
    import spark.implicits._
    amounts(spark, joined)
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[WindowSums, Alert](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (productId: String, rows: Iterator[PurchaseAmount],
         state: GroupState[WindowSums]) =>
          val updated = addToWindows(
            state.getOption.map(_.sums).getOrElse(Map.empty), rows)
          // the punctuator bound: close every window whose end is
          // before the current wall clock (reference: nearestMinutesTs).
          // Evaluated on BOTH paths, not just hasTimedOut: Spark's
          // ProcessingTimeTimeout is an INACTIVITY timeout — re-armed
          // by every data batch — so a continuously active key would
          // otherwise never take the timeout branch, never emit, and
          // grow its window map without bound. Closing on data arrival
          // too emits the same alert set as the reference's periodic
          // punctuator (any window ended before `now` goes out at the
          // next opportunity) and keeps per-key state bounded to open
          // windows; the timeout still covers keys that go idle.
          val nowFloor = {
            val now = System.currentTimeMillis()
            now - now % WindowMillis
          }
          val (out, open) = closeWindows(productId, updated, nowFloor, threshold)
          if (open.isEmpty) state.remove() else state.update(WindowSums(open))
          if (state.exists) state.setTimeoutDuration(punctuatePeriod)
          out.iterator
      }
  }

  /** The stateful processor: accumulate per-window sums; when the
    * event-time watermark passes a window end, emit its alert (if over
    * threshold) and delete the window's state.
    */
  def alerts(spark: SparkSession, joined: DataFrame,
             threshold: Double,
             watermarkDelay: String = "1 minute"): Dataset[Alert] = {
    import spark.implicits._
    amounts(spark, joined)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.product_id)
      .flatMapGroupsWithState[WindowSums, Alert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (productId: String, rows: Iterator[PurchaseAmount],
         state: GroupState[WindowSums]) =>
          val updated = addToWindows(
            state.getOption.map(_.sums).getOrElse(Map.empty), rows)
          val (out, open) = closeWindows(productId, updated,
            state.getCurrentWatermarkMs(), threshold)
          if (open.isEmpty) state.remove()
          else {
            state.update(WindowSums(open))
            // "punctuator": wake this key when its earliest open window
            // can close, even if no new records arrive for it.
            state.setTimeoutTimestamp(open.keys.min + WindowMillis)
          }
          out.iterator
      }
  }
}
