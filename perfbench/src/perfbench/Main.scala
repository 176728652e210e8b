package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments (see run.py, which supplies them). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cpus: Int, build: String, runDir: String, out: String) {
  def fixtureBase: String = s"$build/fixture/sf0.1"
  def fixture10x: String = s"$build/fixture/sf0.1x10"
}

/** What one run measured, and the session it measures with. */
final class Ctx(val args: Args, var spark: SparkSession, val tracer: Tracer) {
  var profiles: Option[Profiles] = if (tracer.enabled) Some(new Profiles(spark)) else None
  /** End-to-end metrics (printed with tracing off). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics (printed with tracing on). */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Everything else worth reading: counts, per-query and per-trigger figures. */
  val details = mutable.LinkedHashMap.empty[String, Any]
  /** Batch results for run.py to compare with DuckDB: query → (sql, output dir, executions). */
  val oracle = mutable.LinkedHashMap.empty[String, (String, String, Long)]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Stop the session and start another with `cpus` cores (the
    * single-core baseline); listeners are registered again.
    */
  def restart(cpus: Int): Unit = {
    spark.stop()
    spark = Main.session(cpus, args)
    profiles = if (tracer.enabled) Some(new Profiles(spark)) else None
  }
}

object Main {
  def session(cpus: Int, a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.streaming.StateStoreCleanupListener.install(s)
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("cpus").toInt, m("build"), m("run-dir"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val ctx = new Ctx(a, session(a.cpus, a), new Tracer(a.trace))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    ctx.details("session_s") = sessionS
    val t0 = System.nanoTime()
    Fixture.ensureBase(ctx.spark, a.fixtureBase)
    if (a.workload == "batch_10x") Fixture.ensureScaled(ctx.spark, a.fixtureBase, a.fixture10x, 10)
    ctx.details("fixture_s") = (System.nanoTime() - t0) / 1e9
    try {
      a.workload match {
        case "alerts_dsl_avro" => Streams.run(ctx, Streams.DslAvro, sessionS)
        case "alerts_processor_wide" => Streams.run(ctx, Streams.ProcessorWide, sessionS)
        case "batch_sf01" => Batches.run(ctx, Batches.Sf01, sessionS)
        case "batch_10x" => Batches.run(ctx, Batches.TenX, sessionS)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        ctx.problems += s"${e.getClass.getSimpleName}: ${e.getMessage}"
        ctx.failed = math.max(ctx.failed, 1L)
        e.printStackTrace()
    }
    if (a.trace) {
      ctx.details("span_self_s") = ctx.tracer.selfSeconds
      val spans = Paths.get(a.build, "trace", s"${a.workload}-seed${a.seed}.json")
      Files.createDirectories(spans.getParent)
      Files.write(spans, ctx.tracer.toJson.getBytes(StandardCharsets.UTF_8))
      ctx.details("spans_file") = spans.toString
    }
    val out = Map(
      "e2e" -> ctx.e2e, "layers" -> ctx.layers, "details" -> ctx.details,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "problems" -> ctx.problems,
      "oracle" -> ctx.oracle.map { case (q, (sql, dir, n)) =>
        q -> Map("sql" -> sql, "dir" -> dir, "executions" -> n) })
    Files.write(Paths.get(a.out), Json.render(out).getBytes(StandardCharsets.UTF_8))
    ctx.spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Order statistics. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
