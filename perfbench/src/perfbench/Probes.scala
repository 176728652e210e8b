package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.PriceAlerts
import graft.sources.{KafkaIO, Tables}

/** Per-layer timings that traced runs of every workload report: Avro
  * decode (functions) and the fixture scan (sources) on fixed inputs,
  * and the price-alert pipeline's prefixes (operators) over the
  * workload's purchases. Each figure is the median of three
  * materializations.
  */
object Probes {
  val AvroProbeRows = 4000000L

  private def noopSeconds(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  })

  /** Avro decode cost per row, and the fixture scan. */
  def common(ctx: Ctx, frames: Array[Array[Byte]], rows: Array[(Long, Long, Long)]): Unit = {
    val spec = PaceSpec(avro = true, ctx.args.seed, frames, rows, Streams.EventOriginMicros,
      eventStepMicros = 1L, partitions = ctx.args.cpus, maxRows = AvroProbeRows)
    def raw = ctx.spark.read.format(PacedSource.Format)
      .option("spec", PacedSource.register(spec)).load()
    val decoded = ctx.tracer.span("functions", "decodeAvroFrames") {
      noopSeconds(KafkaIO.decodeAvroFrames(raw, KafkaIO.purchaseAvroSchema, "FAILFAST")
        .select(col("decoded.*"), col("ts")))
    }
    val framesOnly = noopSeconds(raw.select(length(col("value")), col("ts")))
    ctx.layers("functions.from_avro_ns_per_row") = (decoded - framesOnly) * 1e9 / AvroProbeRows
    val dir = ctx.args.fixtureBase
    ctx.layers("sources.parquet_scan_s") = ctx.tracer.span("sources", "parquet scan") {
      noopSeconds(Tables.purchases(ctx.spark, dir)) + noopSeconds(Tables.products(ctx.spark, dir))
    }
  }

  /** The DSL pipeline's join, window-aggregate and alert prefixes, each
    * materialized in full.
    */
  def pipelinePrefixes(ctx: Ctx, purchases: DataFrame, products: DataFrame): Unit =
    ctx.tracer.span("operators", "PriceAlerts prefixes") {
      def joined = PriceAlerts.purchasesWithProducts(purchases, products)
      def revenue = PriceAlerts.windowedRevenue(joined)
      ctx.layers("operators.price_alerts_join_s") = noopSeconds(joined)
      ctx.layers("operators.windowed_revenue_s") = noopSeconds(revenue)
      ctx.layers("operators.alerts_s") =
        noopSeconds(PriceAlerts.alerts(revenue, PriceAlerts.DslThreshold))
    }
}
