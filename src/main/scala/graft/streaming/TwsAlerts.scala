package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

import ProcessorAlerts.{addToWindows, closeWindows, Alert, PurchaseAmount, WindowMillis}

/** The reference's stateful processor on Spark 4's `transformWithState`
  * (the successor of flatMapGroupsWithState): typed per-key state
  * handles + first-class timers — the closest Spark analogue of the
  * Kafka Streams Processor API surface
  * (PurchaseQuantityAlertTrasformer.java:21-122):
  *
  *   KV store get/put/delete (ST1/ST4) → ValueState[Map[window,sum]]
  *   wall-clock punctuator (W7)        → registered timers (event-time
  *                                       mode: fire at watermark, the
  *                                       deterministic variant)
  *   emit-once + state delete (W4)     → handleExpiredTimer clears
  *                                       emitted windows
  *
  * Kept alongside [[ProcessorAlerts]] (flatMapGroupsWithState) so both
  * escape-hatch generations are exercised.
  */
object TwsAlerts {

  class AlertProcessor(threshold: Double)
      extends StatefulProcessor[String, PurchaseAmount, Alert] {
    @transient private var windows: ValueState[Map[Long, Double]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      windows = getHandle.getValueState[Map[Long, Double]](
        "windows", Encoders.kryo[Map[Long, Double]], TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[PurchaseAmount],
                                 timerValues: TimerValues): Iterator[Alert] = {
      val updated = addToWindows(
        Option(windows.get()).getOrElse(Map.empty), rows)
      windows.update(updated)
      // punctuator: wake when the earliest open window can close
      if (updated.nonEmpty) {
        getHandle.registerTimer(updated.keys.min + WindowMillis)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Alert] = {
      val (out, open) = closeWindows(key,
        Option(windows.get()).getOrElse(Map.empty),
        timerValues.getCurrentWatermarkInMs(), threshold)
      if (open.isEmpty) windows.clear()
      else {
        windows.update(open)
        getHandle.registerTimer(open.keys.min + WindowMillis)
      }
      out.iterator
    }
  }

  /** Alerts over the joined purchase projection, emit-once semantics. */
  def alerts(spark: SparkSession, joined: DataFrame, threshold: Double,
             watermarkDelay: String = "1 minute"): Dataset[Alert] = {
    import spark.implicits._
    ProcessorAlerts.amounts(spark, joined)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.product_id)
      .transformWithState(new AlertProcessor(threshold),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
