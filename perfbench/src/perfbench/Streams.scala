package perfbench

import java.io.ByteArrayOutputStream
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.state.GraftStateStoreBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.operators.PriceAlerts
import graft.sources.{KafkaIO, Tables}
import graft.streaming.{PriceAlertsStream, TwsAlerts}

/** The two streaming workloads: the paper's price-alert query in its
  * eager DSL form and in its emit-once Processor-API form.
  *
  * A run is one query with a fresh checkpoint and RocksDB state, over a
  * [[PacedSource]] that changes schedule as the run goes:
  *  - warm-up: `WarmBatches` closed-loop batches (set-up);
  *  - capacity: the closed loop, `rowsPerBatch` rows per micro-batch,
  *    for a third of `--seconds`; input rows completed per second;
  *  - latency: an open loop at the fixed `ratePerSec` (about half the
  *    capacity measured on a 4-core host) for the other two thirds, after
  *    `LatencyWarmSeconds` that are not measured; each event is timed
  *    from its due time to the commit of the micro-batch that consumed
  *    it. Latency gets the longer phase: its upper percentiles rest on
  *    the slowest few batches.
  * The sink is the memory sink, so every alert is checked afterwards
  * against the batch pipeline over the same generated rows.
  */
object Streams {
  final case class Shape(avro: Boolean, hotKeys: Int, rowsPerBatch: Long, ratePerSec: Double,
                         eventStepMicros: Long)

  /** 200 hot products, Avro decode on the path, tiny state: per-batch
    * fixed costs and decode dominate. A one-minute window holds 2 M rows.
    */
  val DslAvro = Shape(avro = true, hotKeys = 200,
    rowsPerBatch = 500000L, ratePerSec = 300000.0, eventStepMicros = 30L)
  /** All 20 k products, typed input, per-key state and event-time
    * timers: the state store dominates. A window holds 200 k rows, so
    * windows close and emit within the run.
    */
  val ProcessorWide = Shape(avro = false, hotKeys = Fixture.Parts.toInt, rowsPerBatch = 400000L, ratePerSec = 120000.0,
    eventStepMicros = 300L)

  val PoolSize = 1 << 16
  val EventOriginMicros = 1704067200000000L // 2024-01-01T00:00:00Z, minute-aligned
  val WatermarkDelay = "10 seconds"
  /** Closed-loop batches before the timed region: the first opens the
    * state stores and compiles the query; batch times settle after a few.
    */
  val WarmBatches = 8
  /** Open-loop events due in the first second are not measured: batch
    * sizes settle from the closed loop's to the open loop's.
    */
  val LatencyWarmSeconds = 1.0
  /** Each event's latency is kept for at most this many sampled events. */
  val MaxLatencySamples = 1000000

  /** The seeded frame pool: slot j is Purchase(j, 1..10, one of the
    * shape's products), pre-encoded with Confluent framing (magic byte,
    * schema id 1).
    */
  def pool(seed: Long, shape: Shape): (Array[Array[Byte]], Array[(Long, Long, Long)]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val ids = Array.tabulate(Fixture.Parts.toInt)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val keys = ids.take(shape.hotKeys)
    val rows = Array.tabulate(PoolSize)(j =>
      (j.toLong, 1L + rnd.nextInt(10), keys(rnd.nextInt(keys.length))))
    val schema = new Schema.Parser().parse(KafkaIO.purchaseAvroSchema)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(bos, null)
    val frames = rows.map { case (id, q, p) =>
      val rec = new GenericData.Record(schema)
      rec.put("id", id); rec.put("quantity", q); rec.put("productid", p)
      bos.reset()
      bos.write(Array[Byte](0, 0, 0, 0, 1))
      writer.write(rec, enc)
      enc.flush()
      bos.toByteArray
    }
    (frames, rows)
  }

  final case class Inputs(frames: Array[Array[Byte]], rows: Array[(Long, Long, Long)],
                          products: DataFrame)

  /** Set-up work of the workload: the products dimension, loaded and
    * cached (the GlobalKTable analogue), and the frame pool.
    */
  def prepare(ctx: Ctx, shape: Shape): Inputs = {
    val products = ctx.tracer.span("sources", "Tables.products") {
      val df = Tables.products(ctx.spark, ctx.args.fixtureBase).cache()
      df.count()
      df
    }
    val (frames, rows) = pool(ctx.args.seed, shape)
    Inputs(frames, rows, products)
  }

  /** The program's streaming query over the paced source. */
  def alertsQuery(ctx: Ctx, shape: Shape, specId: String, products: DataFrame): (DataFrame, String) =
    ctx.tracer.span("queries", "build") {
      val src = ctx.spark.readStream.format(PacedSource.Format).option("spec", specId).load()
      if (shape.avro) {
        val purchases = KafkaIO.decodeAvroFrames(src, KafkaIO.purchaseAvroSchema, "FAILFAST")
          .select(col("decoded.id").as("id"), col("decoded.quantity").as("quantity"),
            col("decoded.productid").as("productid"), col("ts"))
        (PriceAlertsStream.dslAlertsUpdate(purchases, products), "update")
      } else {
        val purchases = src.select("id", "quantity", "productid", "ts")
        (TwsAlerts.alerts(ctx.spark, PriceAlerts.purchasesWithProducts(purchases, products),
          PriceAlerts.ProcessorThreshold, WatermarkDelay).toDF(), "append")
      }
    }

  /** One query's run: its source, its memory-sink table and its progress. */
  final case class Run(specId: String, sink: String, progress: Seq[StreamingQueryProgress],
                       runId: java.util.UUID) {
    val spec: PaceSpec = PacedSource.spec(specId)
    val batches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
    def consumed: Long = batches.flatMap(p => offset(p.sources.head.endOffset)).foldLeft(0L)(math.max)
    /** Offset where the open loop began (everything consumed if it never did). */
    def base: Long = PacedSource.openLoop(specId).map(_.base).getOrElse(consumed)
    /** Closed-loop batches after the warm-up. */
    def capacityBatches: Seq[StreamingQueryProgress] = batches.drop(spec.warmBatches)
      .filter(p => offset(p.sources.head.endOffset).exists(_ <= base))
    def openBatches: Seq[StreamingQueryProgress] =
      batches.filter(p => offset(p.sources.head.endOffset).exists(_ > base))
  }

  private def offset(json: String): Option[Long] =
    Option(json).filter(_ != "null").map(_.trim.toLong)
  private def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.get("triggerExecution").doubleValue
  private def triggerMs(p: StreamingQueryProgress): Double = endMs(p) - startMs(p)

  /** Start the query over `spec`; `onWarm` runs when the warm-up batches
    * are done; returns once the source has released its last row, every
    * released row is committed, and no trigger (a no-data batch closing
    * windows included) has run for 300 ms.
    */
  def runQuery(ctx: Ctx, shape: Shape, spec: PaceSpec, products: DataFrame, label: String)
              (onWarm: => Unit): Run = {
    val id = PacedSource.register(spec)
    val (df, mode) = alertsQuery(ctx, shape, id, products)
    val q = ctx.tracer.span("streaming", label) {
      val q = df.writeStream.format("memory").queryName(label).outputMode(mode)
        .option("checkpointLocation", s"${ctx.args.runDir}/checkpoints/$label").start()
      try {
        var warm = false
        var stableSince = System.nanoTime()
        var seen = -1
        var done = false
        while (!done) {
          Thread.sleep(5)
          q.exception.foreach(e => throw e)
          val progress = q.recentProgress
          if (!warm && progress.count(_.numInputRows > 0) >= spec.warmBatches) {
            warm = true
            onWarm
          }
          val polls = PacedSource.pollsOf(id)
          val released = polls.lastOption.map(_.released).getOrElse(0L)
          val sourceDone = PacedSource.openLoop(id) match {
            case Some(o) => released >= o.base + spec.openRows
            case None => spec.ratePerSec == 0 && polls.length > spec.warmBatches &&
              Clock.epochMicros > polls(spec.warmBatches).epochMicros + spec.closedMicros
          }
          val committed = progress.flatMap(p => offset(p.sources.head.endOffset)).foldLeft(0L)(math.max)
          if (progress.length != seen || q.status.isTriggerActive) {
            seen = progress.length
            stableSince = System.nanoTime()
          }
          done = sourceDone && committed >= released &&
            System.nanoTime() - stableSince > 300000000L
        }
      } finally {
        try q.stop()
        finally GraftStateStoreBridge.unloadAllStateStores()
      }
      q
    }
    q.exception.foreach(e => throw e)
    Run(id, label, q.recentProgress.toSeq, q.runId)
  }

  /** Closed loop: the median over capacity batches of input rows
    * completed per second of trigger time.
    */
  def capacity(run: Run): Double = {
    val bs = run.capacityBatches
    require(bs.nonEmpty, s"no closed-loop batch after the ${run.spec.warmBatches} warm-up batches")
    Stats.median(bs.map(p => p.numInputRows * 1e3 / triggerMs(p)))
  }

  /** Open loop: due-time → commit latency of every sampled event due
    * after the unmeasured start; also the event and batch counts.
    */
  def latencies(run: Run): (Seq[Double], Long, Int) = {
    val spec = run.spec
    val open = PacedSource.openLoop(run.specId).get
    val from = open.base + (spec.ratePerSec * LatencyWarmSeconds).toLong
    val until = open.base + spec.openRows
    val stride = math.max(1L, (until - from) / MaxLatencySamples)
    var nBatches = 0
    val lat = run.openBatches.flatMap { p =>
      val s = math.max(from, offset(p.sources.head.startOffset).getOrElse(0L))
      val e = offset(p.sources.head.endOffset).get
      if (e <= s) Nil
      else {
        nBatches += 1
        val commit = endMs(p)
        val first = s + java.lang.Math.floorMod(from - s, stride)
        (first until e by stride).map(i => commit - open.dueMicros(i, spec.ratePerSec) / 1e3)
      }
    }
    (lat, until - from, nBatches)
  }

  /** Alerts in the sink that differ from the batch pipeline over the
    * same rows: missing, extra, duplicated or with another total.
    */
  def mismatches(ctx: Ctx, shape: Shape, run: Run, products: DataFrame): Long =
    ctx.tracer.span("operators", "check") {
      val s = ctx.spark
      import s.implicits._
      val input = reference(ctx, run.spec, run.consumed)
      val cols = Seq(col("product_id"), col("window_start"), col("total_sum_per_minute"))
      val expected =
        if (shape.avro) PriceAlerts.dslPipeline(input, products)
        else {
          // windows the watermark of the last trigger had closed
          val wm = run.progress.flatMap(p => Option(p.eventTime.get("watermark")))
            .map(w => Instant.parse(w).toEpochMilli).foldLeft(0L)(math.max)
          val bound = Seq(new Timestamp(wm)).toDF("ts")
          PriceAlerts.alerts(PriceAlerts.closedWindowsOnly(
            PriceAlerts.windowedRevenue(PriceAlerts.purchasesWithProducts(input, products)), bound),
            PriceAlerts.ProcessorThreshold)
        }
      val sinkRows = s.table(run.sink)
      // update mode re-emits a window each time its sum grows; sums only grow
      val actual =
        if (shape.avro) sinkRows.groupBy("product_id", "window_start")
          .agg(max("total_sum_per_minute").as("total_sum_per_minute"))
        else sinkRows
      def bag(df: DataFrame) = df.select(cols: _*).collect().toSeq
        .groupBy(identity).map { case (r, rs) => r -> rs.length.toLong }
      val (e, a) = (bag(expected), bag(actual))
      ctx.details(s"${run.sink}.alerts") = a.values.sum
      (e.keySet ++ a.keySet).toSeq.map(r => math.abs(e.getOrElse(r, 0L) - a.getOrElse(r, 0L))).sum
    }

  /** The rows `[0, n)` of `spec` as a typed batch DataFrame. */
  def reference(ctx: Ctx, spec: PaceSpec, n: Long): DataFrame = {
    val id = PacedSource.register(spec.copy(avro = false, maxRows = n))
    ctx.spark.read.format(PacedSource.Format).option("spec", id).load()
      .select("id", "quantity", "productid", "ts")
  }

  def run(ctx: Ctx, shape: Shape, sessionS: Double): Unit = {
    val a = ctx.args
    val secs = a.seconds.toDouble
    // set-up: dimension and pool three times (median), then the warm-up batches
    var in: Inputs = null
    val prepS = (1 to 3).map { _ =>
      if (in != null) in.products.unpersist(blocking = true)
      val t = System.nanoTime()
      in = prepare(ctx, shape)
      (System.nanoTime() - t) / 1e9
    }
    val spec = PaceSpec(shape.avro, a.seed, in.frames, in.rows, EventOriginMicros,
      shape.eventStepMicros, a.cpus, rowsPerBatch = shape.rowsPerBatch, warmBatches = WarmBatches,
      closedMicros = secs / 3 * 1e6, ratePerSec = shape.ratePerSec,
      openRows = (shape.ratePerSec * (LatencyWarmSeconds + secs * 2 / 3)).toLong)
    val tw = System.nanoTime()
    var warmS = 0.0
    val run = runQuery(ctx, shape, spec, in.products, "alerts") {
      warmS = (System.nanoTime() - tw) / 1e9
      ctx.profiles.foreach { p => p.drain(); p.jobs.reset() }
    }
    val regionS = (System.nanoTime() - tw) / 1e9 - warmS
    ctx.profiles.foreach { p => p.drain(); ctx.layers ++= p.jobs.snapshot(regionS) }
    ctx.e2e("setup_s") = sessionS + Stats.median(prepS) + warmS
    ctx.details("prepare_s") = prepS
    ctx.details("warmup_s") = warmS

    val (lat, events, latBatches) = latencies(run)
    ctx.e2e("capacity_rows_s") = capacity(run)
    ctx.e2e("latency_p50_ms") = Stats.quantile(lat, 0.5)
    ctx.e2e("latency_p90_ms") = Stats.quantile(lat, 0.9)
    ctx.details("capacity_batches") = run.capacityBatches.length
    ctx.details("capacity_trigger_ms") = run.capacityBatches.map(triggerMs)
    ctx.details("latency_events") = events
    ctx.details("latency_batches") = latBatches
    ctx.details("latency_trigger_ms") = run.openBatches.map(triggerMs)
    ctx.details("latency_p99_ms") = Stats.quantile(lat, 0.99)
    ctx.details("offered_rows_s") = shape.ratePerSec

    ctx.attempted = run.consumed
    val bad = mismatches(ctx, shape, run, in.products)
    ctx.failed += math.min(bad, ctx.attempted)
    if (bad > 0) ctx.problems += s"$bad alert rows differ from the batch pipeline"

    ctx.profiles.foreach { p =>
      ctx.layers("plans.plan_s") = run.openBatches.map(
        _.durationMs.get("queryPlanning").doubleValue).sum / 1e3
      ctx.layers("queries.build_s") = ctx.tracer.seconds("queries", "build")
      Seq("traced.capacity_rows_s", "traced.latency_p50_ms", "traced.latency_p90_ms",
        "traced.setup_s").foreach(k => ctx.layers(k) = ctx.e2e(k.stripPrefix("traced.")))
      streamingDetails(ctx, p.streams.forRun(run.runId).filter(pr =>
        offset(pr.sources.head.endOffset).exists(_ > run.base)), run)
      Probes.pipelinePrefixes(ctx, reference(ctx, spec, run.consumed), in.products)
      Probes.common(ctx, in.frames, in.rows)
      // single-core baseline of the same closed loop
      ctx.restart(1)
      val one = prepare(ctx, shape)
      val local1 = runQuery(ctx, shape, spec.copy(partitions = 1,
        rowsPerBatch = shape.rowsPerBatch / a.cpus, warmBatches = 2, ratePerSec = 0.0),
        one.products, "local1")(())
      ctx.layers("baseline.capacity_rows_s_local1") = capacity(local1)
    }
  }

  /** Per-trigger phases, state-store and generator figures of the open loop. */
  private def streamingDetails(ctx: Ctx, progress: Seq[StreamingQueryProgress], run: Run): Unit = {
    val bs = progress.filter(_.numInputRows > 0)
    def perBatch(f: StreamingQueryProgress => Double): Double =
      if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.length
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double)
             (p: StreamingQueryProgress): Double = p.stateOperators.map(f).sum
    val d = ctx.details
    d("streaming.batches") = bs.length
    d("streaming.rows_per_batch") = perBatch(_.numInputRows.toDouble)
    d("streaming.trigger_ms_p50") =
      if (bs.isEmpty) 0.0 else Stats.median(bs.map(dur("triggerExecution")))
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .foreach(k => d(s"streaming.${k}_ms") = perBatch(dur(k)))
    d("streaming.state_commit_ms") = perBatch(state(_.commitTimeMs.toDouble))
    d("streaming.state_rows_updated") = perBatch(state(_.numRowsUpdated.toDouble))
    d("streaming.state_rows_total") = bs.lastOption.map(state(_.numRowsTotal.toDouble)).getOrElse(0.0)
    d("streaming.state_memory_bytes") =
      bs.lastOption.map(state(_.memoryUsedBytes.toDouble)).getOrElse(0.0)
    val custom = bs.flatMap(_.stateOperators.flatMap(_.customMetrics.asScala))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.doubleValue).sum / bs.length }
    custom.filter(_._1.startsWith("rocksdb")).foreach { case (k, v) => d(s"streaming.$k") = v }
    // how far behind its schedule the generator released rows: the
    // newest row a poll released against the poll's own time
    val open = PacedSource.openLoop(run.specId).get
    val late = PacedSource.pollsOf(run.specId)
      .filter(p => p.released > open.base && p.released < open.base + run.spec.openRows)
      .map(p => (p.epochMicros - open.dueMicros(p.released - 1, run.spec.ratePerSec)) / 1e3)
    d("streaming.generator_late_ms") = if (late.isEmpty) 0.0 else late.max
  }
}
