package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Tables

/** The batch workloads: a fixed set of registry queries, each timed to
  * its complete result — every column and the final ORDER BY
  * materialized by the `noop` writer, not `count()`, which lets the
  * optimizer drop the sort and the projection.
  *
  * Set-up runs each query once (code generation, file footers) and
  * keeps those complete results for the DuckDB check. The timed region
  * then runs the whole set, in an order drawn from the seed, until
  * `--seconds` have passed and at least `MinPasses` passes are done;
  * each query's time is the median over passes. A pass is one request
  * for all of the set's complete results, and the latency percentiles
  * are taken over passes: percentiles over single executions of a
  * handful of very different queries jump from one query to another
  * between runs.
  */
object Batches {
  final case class QuerySet(dir: Args => String, copies: Int, queries: Seq[String])

  /** The paper's q01–q04 and ScaleOps' grouped rank (q203). */
  val Queries = Seq("q01_price_alerts_dsl", "q02_price_alerts_processor", "q03_join_project",
    "q04_dim_latest_per_key", "q203_gap_percentiles")
  /** At sf0.1 driver gap, job count and single-task stages weigh most. */
  val Sf01 = QuerySet(_.fixtureBase, 1, Queries)
  /** At 10× the Parquet scan, shuffle bytes and per-row task CPU do. */
  val TenX = QuerySet(_.fixture10x, 10, Queries)

  val MinPasses = 3
  val PaperQueries = Seq("q01_price_alerts_dsl", "q02_price_alerts_processor")

  /** Fixture tables each query reads. */
  private val inputs = Map(
    "q01_price_alerts_dsl" -> Seq("lineitem", "part"),
    "q02_price_alerts_processor" -> Seq("lineitem", "part"),
    "q03_join_project" -> Seq("lineitem", "part"),
    "q04_dim_latest_per_key" -> Seq("events"),
    "q203_gap_percentiles" -> Seq("events"))

  def inputRows(set: QuerySet): Double =
    set.queries.flatMap(inputs).map(Fixture.rows).sum.toDouble * set.copies

  /** Build the query and materialize its complete result — with the
    * `noop` writer, or as parquet under `saveTo`; seconds taken.
    */
  def execute(ctx: Ctx, dir: String, q: String, saveTo: Option[String] = None): Double = {
    val s = ctx.spark
    val before = s.sparkContext.getPersistentRDDs.keySet
    val t = System.nanoTime()
    val df = ctx.tracer.span("queries", q)(SparkEntry.queries(q)(s, dir))
    ctx.tracer.span("operators", q) {
      saveTo match {
        case Some(out) => df.write.mode("overwrite").parquet(out)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    }
    val dt = (System.nanoTime() - t) / 1e9
    // free what the query's checkpoints left behind, outside the timing
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true) }
    dt
  }

  def run(ctx: Ctx, set: QuerySet, sessionS: Double): Unit = {
    val a = ctx.args
    val dir = set.dir(a)
    ctx.details("fixture_dir") = dir
    val prepS = (1 to 3).map { _ =>
      val t = System.nanoTime()
      ctx.tracer.span("sources", "open tables") {
        Fixture.Tables.foreach(t => Tables.load(ctx.spark, dir, t).schema)
      }
      (System.nanoTime() - t) / 1e9
    }
    val failedQ = mutable.LinkedHashSet.empty[String]
    def result(q: String) = s"${a.runDir}/results/$q"
    def attempt(q: String, save: Boolean = false): Option[Double] =
      if (failedQ(q)) None
      else try Some(execute(ctx, dir, q, if (save) Some(result(q)) else None)) catch {
        case e: Exception =>
          failedQ += q
          ctx.problems += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    val tw = System.nanoTime()
    set.queries.foreach(q => attempt(q, save = true))
    val warmS = (System.nanoTime() - tw) / 1e9
    ctx.e2e("setup_s") = sessionS + Stats.median(prepS) + warmS
    ctx.details("prepare_s") = prepS
    ctx.details("warmup_s") = warmS

    val rnd = new scala.util.Random(a.seed)
    val times = mutable.LinkedHashMap(set.queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val region = System.nanoTime()
    val passS = mutable.ArrayBuffer.empty[Double]
    while (passS.length < MinPasses || (System.nanoTime() - region) / 1e9 < a.seconds) {
      val tp = System.nanoTime()
      rnd.shuffle(set.queries).foreach { q =>
        ctx.attempted += 1
        attempt(q) match {
          case Some(dt) => times(q) += dt
          case None => ctx.failed += 1
        }
      }
      passS += (System.nanoTime() - tp) / 1e9
    }
    val med = times.collect { case (q, ts) if ts.nonEmpty => q -> Stats.median(ts.toSeq) }
    val battery = med.values.sum
    ctx.e2e("capacity_rows_s") = inputRows(set) / battery
    ctx.e2e("latency_p50_ms") = Stats.quantile(passS.toSeq, 0.5) * 1e3
    ctx.e2e("latency_p90_ms") = Stats.quantile(passS.toSeq, 0.9) * 1e3
    ctx.details("battery_s") = battery
    ctx.details("paper_s") = PaperQueries.flatMap(med.get).sum
    ctx.details("pass_s") = passS
    ctx.details("query_median_s") = med

    set.queries.filterNot(failedQ).foreach { q =>
      ctx.oracle(q) = (SparkEntry.oracleSql(q), result(q), times(q).length.toLong)
    }

    ctx.profiles.foreach { p =>
      Seq("traced.capacity_rows_s", "traced.latency_p50_ms", "traced.latency_p90_ms",
        "traced.setup_s").foreach(k => ctx.layers(k) = ctx.e2e(k.stripPrefix("traced.")))
      profilePass(ctx, p, set, dir)
      Probes.pipelinePrefixes(ctx, Tables.purchases(ctx.spark, dir), Tables.products(ctx.spark, dir))
      val (frames, rows) = Streams.pool(a.seed, Streams.DslAvro)
      Probes.common(ctx, frames, rows)
      // single-core baseline: one pass of the set at local[1]
      ctx.restart(1)
      val t1 = System.nanoTime()
      set.queries.filterNot(failedQ).foreach(q => execute(ctx, dir, q))
      ctx.layers("baseline.capacity_rows_s_local1") = inputRows(set) / ((System.nanoTime() - t1) / 1e9)
    }
  }

  /** One more pass with every query profiled on its own: per-query
    * wall, driver gap, parallelism and counters in the details, and
    * their sums as the per-layer metrics.
    */
  private def profilePass(ctx: Ctx, p: Profiles, set: QuerySet, dir: String): Unit = {
    val perQuery = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    var buildS, planS = 0.0
    set.queries.foreach { q =>
      p.drain(); p.jobs.reset(); p.plans.reset()
      val t = System.nanoTime()
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      val built = (System.nanoTime() - t) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t) / 1e9
      p.drain()
      perQuery(q) = p.jobs.snapshot(wall) + ("wall_s" -> wall) + ("build_s" -> built) +
        ("plan_s" -> p.plans.seconds)
      buildS += built
      planS += p.plans.seconds
    }
    val totals = perQuery.values.flatMap(_.toSeq).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    totals.foreach { case (k, v) if k.startsWith("operators.") => ctx.layers(k) = v; case _ => }
    ctx.layers("operators.effective_parallelism") =
      totals("operators.task_run_s") / math.max(totals("operators.job_span_s"), 1e-9)
    ctx.layers("queries.build_s") = buildS
    ctx.layers("plans.plan_s") = planS
    ctx.details("per_query") = perQuery
  }
}
