package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale lint: the three RDD/driver escape hatches the
  * plan contracts cannot see (`collect()` materializes to the driver,
  * `mapPartitions*` leaves Catalyst/codegen, `udf(` blocks expression
  * optimization) are each confined to an exact-count whitelist of
  * (file → sites, reason). Every entry's reason states why the seam is
  * legitimate at 100 TB — bounded driver payload, a codec no
  * expression can wrap, or an artifact runner that is not a query
  * plan. Exact counts make the check two-sided: adding a site OR
  * removing one fails CI until the whitelist (and its justification)
  * is consciously updated. This mechanizes what was previously a
  * per-round manual audit of the anti-pattern greps.
  */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def sources: Seq[(String, String)] = {
    val stream = Files.walk(root)
    try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
        .map(p => (p.toString.replace('\\', '/'),
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
        .toSeq.sortBy(_._1)
    } finally stream.close()
  }

  private def check(patternName: String, pattern: scala.util.matching.Regex,
                    whitelist: Map[String, (Int, String)]): Unit = {
    val counts = sources
      .map { case (f, text) => (f, pattern.findAllIn(text).size) }
      .filter(_._2 > 0).toMap
    val unexpected = counts.filterNot { case (f, n) =>
      whitelist.get(f).exists(_._1 == n)
    }
    val stale = whitelist.filterNot { case (f, (n, _)) =>
      counts.get(f).contains(n)
    }
    assert(unexpected.isEmpty && stale.isEmpty,
      s"$patternName sites drifted from the whitelist.\n" +
        s"  found-but-not-whitelisted (file -> count): " +
        s"${unexpected.toSeq.sortBy(_._1).mkString(", ")}\n" +
        s"  whitelisted-but-count-changed (file -> expected): " +
        s"${stale.toSeq.sortBy(_._1).map { case (f, (n, _)) => s"$f -> $n" }.mkString(", ")}\n" +
        s"A NEW site needs a 100 TB justification in the whitelist; a " +
        s"REMOVED site needs its entry deleted so the list stays tight.")
  }

  test("collect() is confined to bounded-payload driver sites and artifact runners") {
    check("collect()", """\.collect\(\)""".r, Map(
      "src/main/scala/graft/Recall.scala" ->
        (1, "artifact runner: 100-query recall readout, not a query plan"),
      "src/main/scala/graft/StreamEquiv.scala" ->
        (20, "artifact runner: batch-vs-stream row comparisons on fixture data"),
      "src/main/scala/graft/StreamBench.scala" ->
        (1, "artifact runner: 64 synthetic PNG payloads for the image-dedup shape, driver-built fixture"),
      "src/main/scala/graft/operators/Similarity.scala" ->
        (6, "k-means/PQ/coreset trainers: <= sampleN rows or 1 row per round, documented"),
      "src/main/scala/graft/operators/Sketches.scala" ->
        (1, "bloom filter words: mBits/64 longs, size fixed by the filter parameter")))
  }

  test("other driver-materialization APIs are confined to 1-row scalar pulls") {
    // collect() is not the only door to the driver: collectAsList,
    // toLocalIterator and argless head() pull rows too, and an audit
    // matching only the literal `.collect()` is narrower than its
    // stated intent. NOT covered here, deliberately: `.take(n)` /
    // `.head(n)` — a textual lint cannot tell Dataset.take from the
    // ubiquitous Scala-collection/string take (14 benign sites today),
    // and a Dataset take/head is driver-bounded by its own argument
    // anyway; the plan contracts cover unbounded pulls.
    // GraphOps' four r16 head() scalar pulls (tol delta, PageRank/PPR
    // dangling mass, coreNumbers Σest) are gone in r17: the same
    // aggregates now ride each round's checkpoint materialization via
    // observe(), so no separate driver action re-scans the frame.
    check("collectAsList/toLocalIterator/head()",
      """\.collectAsList\(|\.toLocalIterator|\.head\(\)""".r, Map(
        "src/main/scala/graft/operators/Similarity.scala" ->
          (1, "PCA gram-matrix trainer: one d*d aggregate row, d fixed")))
  }

  test("mapPartitions* is confined to codec seams and the cumsum offset pass") {
    check("mapPartitions", """\.mapPartitions""".r, Map(
      "src/main/scala/graft/operators/Multimodal.scala" ->
        (6, "ImageIO/AudioSystem/video codecs: no Catalyst expression can wrap them"),
      "src/main/scala/graft/operators/ScaleOps.scala" ->
        (2, "the one two-pass scan behind every rank/cumsum/fill/lag primitive: per-partition per-group summary (collected through collectOffsetsGuarded) + offset-seeded second pass over reused shuffle files"),
      "src/main/scala/graft/sources/AvroFileIO.scala" ->
        (1, "OCF container framing: one Avro container per partition"),
      "src/main/scala/graft/sources/WarcIO.scala" ->
        (1, "WARC container framing: record splitting is byte-stream stateful")))
  }

  test("collect_list/collect_set sites are all bounded by design") {
    // an unbounded collect_list materializes a whole frame into ONE
    // aggregation cell — the single-row cousin of the unpartitioned
    // window. Every site below is bounded by construction: a fixed
    // window frame, per-entity history (the fixture contract: keyspace
    // grows with SF, per-key counts don't), a rank cap ahead of the
    // collect, a calendar/dimension/value-grain domain, or vertex
    // degree. q142's converting-user delta array — the one data-sized
    // site — was rewritten onto distributedRank + rank-pick in r11.
    check("collect_list/set", """\bcollect_(list|set)\(""".r, Map(
      "src/main/scala/graft/StreamEquiv.scala" ->
        (1, "artifact runner: per-window sorted values on fixture data"),
      "src/main/scala/graft/operators/Relational.scala" ->
        (2, "session event paths (session-bounded); Kaplan-Meier curve cells (distinct day-grain durations)"),
      "src/main/scala/graft/operators/TextAnalysis.scala" ->
        (3, "per-document segment rebuild x2 (doc-length-bounded); postings rank-capped BEFORE the collect"),
      "src/main/scala/graft/operators/TimeSeries.scala" ->
        (4, "ewma window rowsBetween(-31,0); cusum/holt per-key series bounded by the q140 fixture contract"),
      "src/main/scala/graft/queries/StatsQueriesB.scala" ->
        (2, "per-brand calendar-month points; flag x linestatus cells"),
      "src/main/scala/graft/queries/StatsQueriesC.scala" ->
        (2, "7-day rolling window; 24 hour-of-day cells per type"),
      "src/main/scala/graft/queries/StatsQueriesD.scala" ->
        (1, "missing languages per source: dimension-grain")))
  }

  test("udf( is confined to the streaming image dHash") {
    check("udf(", """(?<![\w.])udf\(""".r, Map(
      "src/main/scala/graft/streaming/StreamingDedup.scala" ->
        (1, "dHash over ImageIO decode in a streaming map: same codec-seam justification"),
      "src/main/scala/graft/StreamBench.scala" ->
        (1, "bench traffic GENERATOR, not engine code: renders the " +
          "per-row-unique PNG for the image_dhash_dedup emission " +
          "witness (ImageIO encode is a codec seam like the decode " +
          "UDF it feeds; never on a 100 TB query path)")))
  }
}
