package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own table fixture: the tables of the TPC-H-ish star
  * schema that the benchmarked queries read (`part`, `lineitem`,
  * `orders`, `events`), generated from a fixed seed at the sf0.1 row
  * counts.
  *
  * Every value is a pure function of (table, row id), so a rebuild
  * writes the same rows. Prices are multiples of 0.25 and
  * quantities whole numbers, so every revenue sum in the price-alert
  * pipeline is exact in binary floating point: the streaming forms,
  * the batch forms and DuckDB agree bit for bit whatever order rows
  * are summed in. Timestamps are written as TIMESTAMP_NTZ, the
  * physical type the registries' DuckDB oracle SQL expects.
  */
object Fixture {
  val Seed = 42L
  val Tables = Seq("part", "lineitem", "orders", "events")
  val Parts = 20000L
  val Orders = 150000L
  val LineitemRows = 600000L
  val Customers = 15000L
  val Suppliers = 1000L
  val Users = 1500L
  val EventRows = 100000L

  /** Uniform draw in [0, n) from (row id, salt). */
  private def draw(salt: Int, n: Long): Column =
    pmod(xxhash64(lit(Seed), lit(salt), col("id")), lit(n))

  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(typedlit(xs), (draw(salt, xs.length.toLong) + 1).cast("int"))

  private def ntz(epochMicros: Column): Column =
    timestamp_micros(epochMicros).cast("timestamp_ntz")

  private val Day = 86400000000L
  private val Jan1995 = 788918400000000L  // 1995-01-01T00:00:00Z
  private val Jan2024 = 1704067200000000L // 2024-01-01T00:00:00Z

  def part(s: SparkSession): DataFrame = s.range(Parts).select(
    col("id").as("p_partkey"),
    concat_ws(" ", pick(1, Seq("large", "hot", "blue", "red", "small", "cold")),
      pick(2, Seq("ring", "bolt", "gear", "pipe", "nut", "plate"))).as("p_name"),
    concat(lit("Brand#"), draw(3, 25) + 1).as("p_brand"),
    pick(4, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO")).as("p_type"),
    (draw(5, 50) + 1).cast("int").as("p_size"),
    (lit(900.0) + (col("id") % 400) * 0.25).as("p_retailprice"))

  def lineitem(s: SparkSession): DataFrame = s.range(LineitemRows).select(
    floor(col("id") / 4).cast("long").as("l_orderkey"),
    draw(11, Parts).as("l_partkey"),
    draw(12, Suppliers).as("l_suppkey"),
    (col("id") % 4 + 1).cast("int").as("l_linenumber"),
    (draw(13, 50) + 1).cast("double").as("l_quantity"),
    (draw(14, 10000000) / 100.0).as("l_extendedprice"),
    (draw(15, 11) / 100.0).as("l_discount"),
    (draw(16, 9) / 100.0).as("l_tax"),
    pick(17, Seq("A", "N", "R")).as("l_returnflag"),
    pick(18, Seq("O", "F")).as("l_linestatus"),
    ntz(lit(Jan1995) + draw(19, 2500) * Day).as("l_shipdate"))

  def orders(s: SparkSession): DataFrame = s.range(Orders).select(
    col("id").as("o_orderkey"),
    draw(21, Customers).as("o_custkey"),
    pick(22, Seq("O", "F", "P")).as("o_orderstatus"),
    (draw(23, 50000000) / 100.0).as("o_totalprice"),
    ntz(lit(Jan1995) + draw(24, 2500) * Day).as("o_orderdate"),
    pick(25, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")).as("o_orderpriority"))

  def events(s: SparkSession): DataFrame = s.range(EventRows).select(
    col("id").as("event_id"),
    ntz(lit(Jan2024) + col("id") * 25000000L + draw(31, 25000000)).as("ts"),
    draw(32, Users).as("user_id"),
    pick(33, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
    (draw(34, 20000) / 100.0).as("value"),
    concat(lit("{\"k\": "), draw(35, 100), lit("}")).as("props"))

  def table(s: SparkSession, name: String): DataFrame = name match {
    case "part" => part(s)
    case "lineitem" => lineitem(s)
    case "orders" => orders(s)
    case "events" => events(s)
  }

  /** Row count of each table at 1×. */
  def rows(name: String): Long = name match {
    case "part" => Parts
    case "lineitem" => LineitemRows
    case "orders" => Orders
    case "events" => EventRows
  }

  private def marker(dir: String): Path = Paths.get(dir, "_COMPLETE")

  /** Write the sf0.1 fixture into `dir` unless a complete one is there. */
  def ensureBase(s: SparkSession, dir: String): Unit =
    if (!Files.exists(marker(dir))) {
      Tables.foreach { t =>
        table(s, t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      verify(s, dir, 1)
      Files.write(marker(dir), Array.emptyByteArray)
    }

  /** Write the `copies`× fixture (graft.ScaleUp's key-shifted copies of
    * the sf0.1 tables) into `dir` unless a complete one is there.
    */
  def ensureScaled(s: SparkSession, baseDir: String, dir: String, copies: Int): Unit =
    if (!Files.exists(marker(dir))) {
      Tables.foreach { t =>
        graft.ScaleUp.scaled(s, baseDir, t, copies).coalesce(4)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      verify(s, dir, copies)
      Files.write(marker(dir), Array.emptyByteArray)
    }

  private def verify(s: SparkSession, dir: String, copies: Int): Unit =
    Tables.foreach { t =>
      val n = s.read.parquet(s"$dir/$t.parquet").count()
      require(n == rows(t) * copies,
        s"fixture table $t in $dir has $n rows, expected ${rows(t) * copies}")
    }
}
