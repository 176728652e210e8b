package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Cluster-scale join patterns: co-located bucketed joins (pre-shuffled
  * storage, zero exchange at query time) and salted joins (hot-key
  * skew dilution). Both are storage/plan techniques rather than new
  * operators — surfaced as helpers so pipelines at 100 TB use them
  * uniformly, and plan-asserted in ScaleOpsSpec.
  */
object ScaleOps {

  /** Cap on distinct group keys per partition in [[scan]]'s offset
    * pass, which collects per-partition PER-GROUP state to the driver —
    * KB-scale when `groupCols` is schema-bounded (years, languages,
    * sources, nations), a silent driver OOM when a caller passes an
    * entity key. The guard turns the OOM into a fast,
    * named failure in the offset job itself, before anything is
    * collected. 100 k entries per partition is ~100× any legitimate
    * bounded key set and far below driver danger (a few MB total).
    * Two-level: this executor-side cap catches entity keys at small
    * partition counts; [[MaxGroupsTotal]] catches them at large ones,
    * where each partition's share of the keyspace slips under this cap.
    */
  val MaxGroupsPerPartition: Int = 100000

  /** Driver-side cap on TOTAL offset entries across all partitions.
    * The per-partition cap alone misses the many-partition regime: at
    * p partitions an entity key puts only ~groups/p entries in each
    * partition (under the per-partition cap once p is large), but
    * p × that is still the whole entity keyspace arriving at the
    * driver. Legitimate bounded-group usage collects at most
    * groups + partitions − 1 entries (group runs are contiguous under
    * the range shuffle, so a group adds an extra entry only where it
    * straddles a partition boundary) — thousands, never near 1 M.
    */
  val MaxGroupsTotal: Long = 1000000L

  /** Executor-side guard for the offset passes: called whenever a
    * per-partition group map grows, throws past the cap. The
    * IllegalStateException surfaces as the SparkException's cause with
    * this message intact.
    */
  private def requireBoundedGroups(op: String, size: Int): Unit =
    if (size > MaxGroupsPerPartition)
      throw new IllegalStateException(
        s"$op: a single partition holds more than $MaxGroupsPerPartition " +
          "distinct group keys — groupCols looks entity-grained, and the " +
          "offset pass would materialize every group on the driver. The " +
          "grouped ScaleOps primitives require a schema-bounded group key " +
          "(years, languages, sources, nations); for entity-grained keys " +
          "use a plain partitioned window, which is already scale-safe.")

  /** Collect the offset pass's per-partition vectors with an
    * INCREMENTAL total-size guard: task results flow through a runJob
    * result handler as they arrive, and the job aborts (the handler's
    * exception surfaces as SparkDriverExecutionException) the moment
    * the running total crosses [[MaxGroupsTotal]] — so the driver
    * never buffers more than the cap plus the in-flight task results,
    * closing the regime the executor-side per-partition cap cannot
    * see.
    */
  private def collectOffsetsGuarded[T](op: String,
      rdd: org.apache.spark.rdd.RDD[(Int, Vector[T])]): Array[Vector[T]] = {
    val out = Array.fill[Vector[T]](rdd.getNumPartitions)(Vector.empty)
    var total = 0L
    rdd.sparkContext.runJob(rdd,
      (it: Iterator[(Int, Vector[T])]) => it.toArray,
      (_: Int, res: Array[(Int, Vector[T])]) => res.foreach { case (i, v) =>
        total += v.size
        if (total > MaxGroupsTotal)
          throw new IllegalStateException(
            s"$op: more than $MaxGroupsTotal group keys collected across " +
              "all partitions — groupCols looks entity-grained (each " +
              "partition under the per-partition cap, but the keyspace as " +
              "a whole is data-sized). The grouped ScaleOps primitives " +
              "require a schema-bounded group key; for entity-grained " +
              "keys use a plain partitioned window.")
        out(i) = v
      })
    out
  }

  /** Prepare a bucketed+sorted writer: both fact tables written with the
    * same bucket count/column join WITHOUT any exchange or sort — the
    * shuffle is paid once at write time and amortized over every
    * subsequent join/aggregation on that key (the Spark analogue of a
    * co-partitioned Kafka Streams topic pair).
    */
  def bucketedWriter(df: DataFrame, buckets: Int,
                     bucketCol: String): DataFrameWriter[Row] =
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)

  /** Inner equi-join with the big side's hot keys diluted over `salt`
    * sub-keys: the big side gets a per-row salt, the small side is
    * replicated `salt` times, and the join key becomes (key, salt) — a
    * single hot key now lands on `salt` reducers instead of one.
    * Semantically identical to `big.join(small, key)` (inner) in BOTH
    * modes (the small side carries every salt value, so a big row
    * matches the same small rows whatever its salt); use when AQE skew
    * splitting isn't enough (e.g. one key is most of the input).
    *
    * Salt derivation, in order of preference:
    *   - `uniqueCol = Some(id)` (use whenever the table HAS a unique
    *     id — doc_id, event_id, offset…): salt from xxhash64 of that
    *     column alone — fully DETERMINATE map outputs (retry/
    *     reshuffle-stable) AND spam-proof (content-identical rows
    *     carry distinct ids, so 100%-duplicate floods under one key
    *     still fan out over all `salt` reducers). This is the
    *     production setting; the two below exist for tables with no
    *     row identity.
    *   - default: xxhash64 over the row content — determinate, but
    *     rows identical in EVERY column share a salt, so exact-
    *     duplicate spam under one key still lands on one reducer (the
    *     exact/fingerprint dedup pass upstream is the structural fix).
    *   - `acceptIndeterminateSalt = true`: salt from
    *     `monotonically_increasing_id()` — duplicates fan out evenly,
    *     but the salt depends on row order, so the map output is
    *     INDETERMINATE under stage retry (Spark correctly reruns the
    *     WHOLE stage for indeterminate outputs — a real cost at
    *     100 TB; the joined RESULT is unchanged either way). The
    *     parameter name is the warning label: any determinate
    *     spam-proof salt needs an ordering over identical rows, which
    *     is exactly what a unique id column provides — there is no
    *     third option, so reach for this ONLY when the table truly
    *     has no row identity, and say so in the calling code.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salt: Int, acceptIndeterminateSalt: Boolean = false,
                 uniqueCol: Option[String] = None): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(!(acceptIndeterminateSalt && uniqueCol.isDefined),
      "a table with a unique id never needs the indeterminate salt — drop the flag")
    val saltExpr = uniqueCol match {
      case Some(u) => pmod(xxhash64(col(u)), lit(salt)).cast("int")
      case None if acceptIndeterminateSalt =>
        pmod(monotonically_increasing_id(), lit(salt)).cast("int")
      case None =>
        pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(salt)).cast("int")
    }
    val saltedBig = big.withColumn("__salt", saltExpr)
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Hive-style partitioned layout: one directory per value of
    * `partCol`. The complement of bucketing — bucketing co-locates a
    * high-cardinality JOIN key; directory partitioning prunes a
    * low-cardinality FILTER/date key at file-listing time, before a
    * single byte is read. At 100 TB the standard layout is
    * date-partitioned directories with bucketed files inside.
    *
    * Two prunings fall out (both plan-asserted in ScaleOpsSpec):
    *  - static: `WHERE partCol = x` never lists the other directories;
    *  - dynamic (DPP): joining on `partCol` against a filtered dim
    *    injects a runtime `dynamicpruning` subquery into the scan's
    *    PartitionFilters, so the fact side reads only partitions the
    *    dim side survives — the directory-level cousin of q70's
    *    row-level bloom filter.
    *
    * Keep partition cardinality bounded (dates, types, shards — not
    * user ids): each value is a directory, and millions of tiny
    * directories kill the file listing long before the scan.
    */
  def partitionedWrite(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Small-files compaction: rewrite a (typically many-small-files)
    * table into ~`targetFileBytes` outputs, sized from Catalyst's own
    * statistics (`optimizedPlan.stats.sizeInBytes` — file-size sum for
    * a parquet relation, no extra scan). The chronic 100 TB operational
    * problem: a streaming sink or over-parallel job leaves thousands
    * of KB-files per partition and every downstream scan pays
    * per-file open/footer cost; periodic compaction is the fix.
    * Round-robin repartition (not coalesce: coalesce would narrow the
    * write parallelism AND inherit upstream skew).
    */
  def compactionPartitions(df: DataFrame, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes // BigInt
    ((bytes + targetFileBytes - 1) / targetFileBytes).max(BigInt(1)).toInt
  }

  def compact(df: DataFrame, targetFileBytes: Long): DataFrame =
    df.repartition(compactionPartitions(df, targetFileBytes))

  /** What a [[scan]] threads along each group's rows. `step` folds one
    * row into the carry; `merge` appends a later partition's summary
    * (a fold from `zero` over a non-empty run) to an earlier carry, so
    * that `merge(s, fold(step, zero, run)) == fold(step, s, run)`;
    * `emit` turns the carry before and after a row, plus the group's
    * final total, into the row's appended values.
    */
  private final case class Carry[S](zero: S, step: (S, Row) => S,
      merge: (S, S) => S, emit: (S, S, S) => Seq[Any])

  /** Rank carry: emits (rank, group size). */
  private val Count = Carry[Long](0L, (c, _) => c + 1L, _ + _,
    (_, c, n) => Seq(c, n))

  private def countAndSum(vIdx: Int) = Carry[(Long, Long)]((0L, 0L),
    { case ((c, s), r) => (c + 1L, s + r.getLong(vIdx)) },
    { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) },
    (_, cs, _) => Seq(cs._1, cs._2))

  private def longCol(name: String) = StructField(name, LongType, nullable = false)

  /** The two-pass scan behind every rank, running-sum and carry
    * primitive here — the scale-safe form of an ordered window, which
    * puts a whole group (or, with no `groupCols`, the whole frame) in
    * one task.
    *
    * Plan: range shuffle on (groupCols ++ orderCols) and a sort within
    * partitions, so each group's rows form contiguous runs; then two
    * jobs over the SAME shuffled RDD (the second reuses the shuffle
    * files): (1) a per-partition, per-group summary (`carry` folded from
    * `zero`), collected to the driver under both bounded-group guards
    * ([[MaxGroupsPerPartition]] per partition, [[MaxGroupsTotal]] in
    * total) and scanned into exclusive per-(partition, group) seeds —
    * only for the groups each partition holds, so the broadcast is
    * O(groups + partitions) — plus per-group totals; (2) a seeded fold
    * that appends `carry.emit`'s values as the `out` columns. (The
    * pure-SQL form — a second aggregate subtree joined back as offsets
    * — recomputes the whole upstream: column pruning slims its exchange
    * so ReuseExchange never matches.)
    *
    * `groupCols` must be a BOUNDED key set (dimension/calendar grain,
    * never an entity key: for entity keys use a plain partitioned
    * window, which is already scale-safe). A NULL group key is an
    * ordinary group, as in `Window.partitionBy`. (groupCols ++
    * orderCols) must be a TOTAL order (include a unique tie-break key):
    * exact ties that straddle a range boundary would otherwise fold in
    * a nondeterministic order.
    *
    * Eager: job (1) runs at call time, not at the returned DataFrame's
    * first action. `repartitionByRange` also samples its input first,
    * so the upstream plan runs about twice; `localCheckpoint` an
    * expensive upstream before calling.
    *
    * Determinism caveat: both jobs assume they read the same shuffled
    * rows. If map partitions are RECOMPUTED (executor loss) over a
    * nondeterminate upstream — sampling, [[saltedJoin]]'s
    * `acceptIndeterminateSalt` mode, round-robin `repartition(n)` — the
    * second pass can see different rows than the seeds were computed
    * from and silently emit wrong values. For such an input,
    * `localCheckpoint` it first so both passes read the materialized
    * frame.
    */
  private def scan[S](op: String, df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], partitions: Int, out: Seq[StructField],
      carry: Carry[S]): DataFrame = {
    require(!out.exists(f => df.columns.contains(f.name)),
      s"$op: output column ${out.map(_.name).mkString("/")} already exists")
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ordered = groupCols.map(col(_).asc) ++ orderCols
    val ranged = df.repartitionByRange(n, ordered: _*)
      .sortWithinPartitions(ordered: _*)
    val gIdx = groupCols.map(ranged.schema.fieldIndex)
    val rows = ranged.rdd
    val perPart = collectOffsetsGuarded(op,
      rows.mapPartitionsWithIndex { (i, it) =>
        val m = mutable.LinkedHashMap[Seq[Any], S]()
        it.foreach { r =>
          val k = gIdx.map(r.get)
          m(k) = carry.step(m.getOrElse(k, carry.zero), r)
          requireBoundedGroups(op, m.size)
        }
        Iterator((i, m.toVector))
      })
    val totals = mutable.HashMap[Seq[Any], S]()
    val seeds: Array[Map[Seq[Any], S]] = perPart.map { m =>
      val seed = m.map { case (k, _) =>
        k -> totals.getOrElse(k, carry.zero) }.toMap
      m.foreach { case (k, s) =>
        totals(k) = carry.merge(totals.getOrElse(k, carry.zero), s) }
      seed
    }
    val seedB = df.sparkSession.sparkContext.broadcast((seeds, totals.toMap))
    val emitted = rows.mapPartitionsWithIndex { (i, it) =>
      val (seed, total) = seedB.value
      val st = mutable.HashMap[Seq[Any], S]() ++= seed(i)
      it.map { r =>
        val k = gIdx.map(r.get)
        val before = st(k)
        val after = carry.step(before, r)
        st(k) = after
        Row.fromSeq(r.toSeq ++ carry.emit(before, after, total(k)))
      }
    }
    df.sparkSession.createDataFrame(emitted,
      StructType(ranged.schema.fields ++ out))
  }

  /** Global dense row-numbering WITHOUT a single-partition window — the
    * reusable primitive the statistics queries reach for instead of
    * `row_number().over(Window.orderBy(...))` on fact-grain rows (which
    * moves the whole frame to one task). The ungrouped [[scan]] with a
    * count carry; `orderCols` must be a total order. Returns the
    * 1-based position as non-null LongType `rankCol`.
    */
  def distributedRank(df: DataFrame, orderCols: Seq[Column],
                      rankCol: String = "rk",
                      partitions: Int = 0): DataFrame =
    scan("distributedRank", df, Nil, orderCols, partitions,
      Seq(longCol(rankCol)), Count.copy[Long](emit = (_, c, _) => Seq(c)))

  /** Rank WITHIN bounded groups without a per-group single-task sort —
    * the grouped sibling of [[distributedRank]]. A window partitioned
    * by a LOW-cardinality key (year, language, event type) over
    * entity/fact-grain rows is the same hazard as an unpartitioned
    * window, just split across k tasks for schema-bounded k. The
    * [[scan]] with a count carry: rank-in-group comes back as
    * `rankCol`, the group total as `countCol` (every quantile/ntile
    * consumer needs it), both non-null LongType.
    */
  def groupedRank(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[Column], rankCol: String = "rk",
                  countCol: String = "n_grp",
                  partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedRank needs at least one group column")
    scan("groupedRank", df, groupCols, orderCols, partitions,
      Seq(longCol(rankCol), longCol(countCol)), Count)
  }

  /** SQL `ntile(k)` bucket recovered from a pre-computed global rank —
    * the companion to [[distributedRank]] that lets quantile-scoring
    * queries (RFM quintiles, quartile bands, price tiers) drop their
    * unpartitioned `ntile(k).over(Window.orderBy(...))` window: rank
    * via range shuffle, then this pure column expression maps
    * (rank, total) → the IDENTICAL bucket ntile would assign.
    *
    * Semantics (SQL standard, Spark's `NTile` and DuckDB agree):
    * `base = n div k`, `rem = n mod k`; the first `rem` buckets hold
    * `base+1` rows, the rest `base`. The `when` guard also covers
    * n < k (base = 0): every row then lands in its own bucket, and the
    * `base`-divisor branch is never evaluated (CaseWhen is lazy; the
    * `greatest(base,1)` keeps ANSI div-by-zero unreachable even if an
    * optimizer rewrite were to constant-fold the branch).
    *
    * `rk` must be the 1-based dense global position from a TOTAL order
    * (distributedRank with a tie-break key); `n` the frame's row count
    * (a broadcast 1-row aggregate). Returns LongType. (The `/` on
    * Columns is IEEE division; positive long operands round-trip the
    * floor exactly below ~2×10¹⁵ rows — past any real frame.)
    */
  def ntileOfRank(rk: Column, n: Column, k: Int): Column = {
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val base = idiv(n.cast("long"), lit(k.toLong))
    val rem = n.cast("long") - base * k
    val cutoff = rem * (base + lit(1L))
    when(rk <= cutoff, idiv(rk + base, base + lit(1L)))
      .otherwise(rem + idiv(rk - cutoff + greatest(base, lit(1L)) - 1L,
        greatest(base, lit(1L))))
  }
  /** Exact global running sum (prefix sum / cumulative sum) of
    * `valueCol` along the total order `orderCols`, with no
    * single-partition window — the scale-safe form of
    * `sum(v).over(Window.orderBy(...).rowsBetween(unboundedPreceding,
    * currentRow))` for ABC/Pareto cumulative-share queries whose order
    * key (e.g. per-part revenue) is near-unique, so the value-grain
    * cumulative trick (q269/q300) would degenerate back to the full
    * entity frame. The ungrouped [[scan]] with a (count, sum) carry:
    * both the rank (`rankCol`) and the inclusive running sum (`cumCol`)
    * come back, since every cumulative-share consumer also wants the
    * position. `valueCol` must be a non-null LongType column.
    */
  def distributedCumSum(df: DataFrame, orderCols: Seq[Column],
                        valueCol: String, cumCol: String = "cum",
                        rankCol: String = "rk",
                        partitions: Int = 0): DataFrame =
    scan("distributedCumSum", df, Nil, orderCols, partitions,
      Seq(longCol(rankCol), longCol(cumCol)),
      countAndSum(df.schema.fieldIndex(valueCol)))

  /** Grouped exact running sum — the grouped sibling of
    * [[distributedCumSum]]: `sum(v).over(Window.partitionBy(g)
    * .orderBy(...).rowsBetween(unboundedPreceding, currentRow))` sorts
    * and prefix-sums each group in ONE task, which for a schema-bounded
    * group key (sources, years, types) over entity/fact-grain rows is
    * the same single-task hazard as the unpartitioned form. Returns
    * rank-in-group (`rankCol`) and the inclusive per-group running sum
    * (`cumCol`), both LongType; `valueCol` non-null LongType.
    */
  def groupedCumSum(df: DataFrame, groupCols: Seq[String],
                    orderCols: Seq[Column], valueCol: String,
                    cumCol: String = "cum", rankCol: String = "rk",
                    partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedCumSum needs a group column")
    scan("groupedCumSum", df, groupCols, orderCols, partitions,
      Seq(longCol(rankCol), longCol(cumCol)),
      countAndSum(df.schema.fieldIndex(valueCol)))
  }

  /** Grouped forward-fill — `last(v, ignoreNulls).over(Window
    * .partitionBy(g).orderBy(...))` without the per-group single-task
    * sort: carries the most recent non-null `fillCol` value along the
    * total order within each bounded group (the as-of/carry idiom on
    * any axis — time, size, rank). INCLUSIVE of the current row (the
    * standard frame unboundedPreceding..currentRow); rows whose own
    * value is null receive the carry. `outCol` has `fillCol`'s type,
    * nullable (null until the group's first non-null).
    */
  def groupedFill(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[Column], fillCol: String,
                  outCol: String, partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedFill needs a group column")
    val fIdx = df.schema.fieldIndex(fillCol)
    scan("groupedFill", df, groupCols, orderCols, partitions,
      Seq(df.schema(fIdx).copy(name = outCol, nullable = true)),
      Carry[Any](null, (s, r) => if (r.isNullAt(fIdx)) s else r.get(fIdx),
        (a, b) => if (b == null) a else b, (_, s, _) => Seq(s)))
  }

  /** Grouped lag — `lag(v).over(Window.partitionBy(g).orderBy(...))`
    * without the per-group single-task sort: each row gets the
    * previous row's `lagCol` value in its bounded group, nulls
    * included (not skipped). `outCol` has `lagCol`'s type, nullable
    * (null on each group's first row).
    */
  def groupedLag(df: DataFrame, groupCols: Seq[String],
                 orderCols: Seq[Column], lagCol: String,
                 outCol: String, partitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "groupedLag needs a group column")
    val lIdx = df.schema.fieldIndex(lagCol)
    scan("groupedLag", df, groupCols, orderCols, partitions,
      Seq(df.schema(lIdx).copy(name = outCol, nullable = true)),
      Carry[Any](null, (_, r) => r.get(lIdx), (_, b) => b,
        (prev, _, _) => Seq(prev)))
  }

  /** Z-order layout: range-partition + sort the table by the Morton
    * interleave of two integer dimensions, so parquet row-group min/max
    * statistics prune scans filtered on EITHER dimension (a linear sort
    * clusters only its leading column; the space-filling curve gives
    * both columns locality). Write the result with `.write` and
    * point-lookups/range scans on (x) or (y) skip most row groups —
    * the single-table analogue of what bucketing does for joins.
    */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   partitions: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("__z", graft.functions.GraftFunctions.zorder64(
        col(xCol).cast("long"), col(yCol).cast("long")))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }
}
