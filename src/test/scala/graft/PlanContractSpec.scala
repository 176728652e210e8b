package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Relational, Similarity, Sketches}
import graft.sources.Tables

/** Plan CONTRACTS for the round-5 operators: the scale claims in
  * SCALING.md asserted against the actual physical plan, so a
  * regression that silently adds an exchange (or pushes an aggregate
  * to the reduce side) fails CI instead of surviving until someone
  * reads an explain output. Same spirit as ScaleOpsSpec's
  * zero-exchange bucketed-join assertions.
  */
class PlanContractSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("q122 SCD2: both window passes share ONE hash exchange") {
    val plan = physical(Relational.scd2History(Tables.orders(spark, sf001)))
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"expected exactly one hash exchange:\n$plan")
    assert(countOccurrences(plan, "Window") >= 2, "two window passes expected")
  }

  test("q123 random projection: zero exchanges — pure map") {
    val plan = physical(
      Similarity.randomProjection(Tables.embeddings(spark, sf001)))
    assert(!plan.contains("Exchange"),
      s"projection must not shuffle:\n$plan")
  }

  test("q126 SpaceSaving: sketch partial-aggregates BEFORE the exchange") {
    val df = Sketches.spaceSavingTopTokens(spark, Tables.documents(spark, sf001))
    val plan = physical(df)
    // the map-side ObjectHashAggregate must appear below (later in the
    // tree string = closer to the scan than) the exchange it feeds
    val firstAgg = plan.indexOf("ObjectHashAggregate")
    val lastAgg = plan.lastIndexOf("ObjectHashAggregate")
    val exch = plan.indexOf("Exchange hashpartitioning")
    assert(firstAgg >= 0 && lastAgg > firstAgg && exch > firstAgg && exch < lastAgg,
      s"expected partial ObjectHashAggregate on both sides of the exchange:\n$plan")
  }

  test("q124 hard negatives: corpus side joins without shuffling (broadcast anchors)") {
    val emb = Tables.embeddings(spark, sf001)
    val out = Similarity.hardNegatives(spark, emb, emb.filter(col("vec_id") < 3), 5)
    val plan = physical(out)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"anchors must broadcast:\n$plan")
    // the only hash exchange allowed is the per-anchor ranking window
    assert(countOccurrences(plan, "Exchange hashpartitioning") <= 1,
      s"corpus must not shuffle for the join:\n$plan")
  }

  test("q176 winnowing: ONE doc exchange — window + both aggregates share it") {
    val plan = physical(graft.operators.TextAnalysis
      .winnowFingerprints(Tables.documents(spark, sf001)))
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 1,
      s"winnowing must shuffle exactly once (on doc_id):\n$plan")
    assert(plan.contains("Window"), "lag/lead window expected")
  }

  test("q187 EXISTS: a left-semi join, never a count aggregate") {
    val plan = physical(SparkEntry.queries("q187_priority_late_ship")(
      spark, sf001))
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as semi join:\n$plan")
    // the non-equi half rides the join condition: the semi-join node
    // itself mentions the shipdate comparison
    val semiLine = plan.linesIterator
      .find(_.contains("LeftSemi")).getOrElse("")
    assert(semiLine.contains("l_shipdate"),
      s"shipdate predicate must ride the semi join:\n$semiLine")
  }

  test("q188 NOT IN: an anti join, never a nullable IN filter") {
    val plan = physical(SparkEntry.queries("q188_supplier_diversity")(
      spark, sf001))
    assert(plan.contains("LeftAnti"), s"exclusion must be an anti join:\n$plan")
  }

  test("q178 burstiness: two aggregates, no window, no join") {
    val plan = physical(graft.operators.TimeSeries
      .burstinessAudit(Tables.events(spark, sf001)))
    assert(!plan.contains("Window") &&
      !plan.contains("Join"), s"pure two-level aggregate expected:\n$plan")
  }

  test("q181 active users: no Expand (single-distinct rewrite held)") {
    val plan = physical(graft.operators.TimeSeries
      .activeUserCurves(Tables.events(spark, sf001)))
    assert(!plan.contains("Expand"),
      s"min-offset fan-out must avoid the multi-distinct Expand:\n$plan")
  }

  private def countRegex(s: String, pattern: String): Int =
    pattern.r.findAllIn(s).length

  test("q223 chi-squared: ONE fact scan — marginals fold over the cell array") {
    val plan = physical(SparkEntry.queries("q223_chi2_flag_linestatus")(
      spark, sf001))
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"contingency marginals must not rescan the fact table:\n$plan")
    assert(!plan.contains("Join"), s"no join needed for marginals:\n$plan")
  }

  test("q224 weighted median: both windows + final agg share ONE nation exchange") {
    val plan = physical(SparkEntry.queries("q224_weighted_median_value")(
      spark, sf001))
    assert(countRegex(plan, """hashpartitioning\(n_name#\d+, \d+\)""") == 1,
      s"cumulative walk and rollup must share the nation partitioning:\n$plan")
  }

  test("q226 streaks: islands + run-rank reuse the nation window exchange") {
    val plan = physical(SparkEntry.queries("q226_revenue_streaks")(
      spark, sf001))
    assert(countRegex(plan, """hashpartitioning\(n_name#\d+, \d+\)""") == 1,
      s"break/island/rank stages must share one nation exchange:\n$plan")
  }

  test("q229 DOW profile: share window reuses the type-keyed aggregate exchange") {
    val plan = physical(SparkEntry.queries("q229_dow_seasonality")(
      spark, sf001))
    assert(countRegex(plan, """hashpartitioning\(event_type#\d+, \d+\)""") == 1,
      s"permille window must reuse the event_type partitioning:\n$plan")
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 2,
      s"exactly (type,dow) agg + type window exchanges expected:\n$plan")
  }

  test("q222 Theil-Sen: pair expansion stays in-row — each table scanned once") {
    val plan = physical(SparkEntry.queries("q222_theil_sen_trend")(
      spark, sf001))
    assert(countOccurrences(plan, "Scan parquet") == 3,
      s"lineitem/orders/part must each scan once (no aggregate self-join):\n$plan")
  }

  test("q228 decile mobility: window-free — deciles from distributedRank + 2-row offsets") {
    // the pre-r11 shape ranked (custkey, yr) rows through a 2-partition
    // year window; the frame now rides ONE global distributedRank (the
    // scan happens in its eager jobs, so the final plan roots at the
    // RDD seam) and the per-year offsets broadcast back
    val plan = physical(SparkEntry.queries("q228_decile_mobility")(
      spark, sf001))
    assert(!plan.contains("Window") && !plan.contains("ntile"),
      s"q228 must not rank through a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-year offsets must broadcast:\n$plan")
  }

  test("q227 integrity audit: lineitem scanned exactly once across both FK checks") {
    val plan = physical(SparkEntry.queries("q227_integrity_audit")(
      spark, sf001))
    val liScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n$plan")
  }

  test("q221 OLS trend: part dim broadcasts; brand rollup is the only brand-keyed exchange") {
    val plan = physical(SparkEntry.queries("q221_brand_trend_ols")(
      spark, sf001))
    assert(plan.contains("BroadcastHashJoin"),
      s"part dim must broadcast:\n$plan")
    assert(countRegex(plan, """hashpartitioning\(p_brand#\d+, \d+\)""") == 1,
      s"one brand-keyed exchange expected for the moment rollup:\n$plan")
  }

  test("q243 bitmask: ONE user exchange, no window, no join") {
    val plan = physical(SparkEntry.queries("q243_activity_bitmask")(
      spark, sf001))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"bit_or collapse must be a pure aggregate chain:\n$plan")
    assert(countRegex(plan, """hashpartitioning\(user_id#\d+L?, \d+\)""") == 1,
      s"one user-keyed exchange expected:\n$plan")
  }

  test("q254 centroid drift: ONE embeddings scan; dim window reuses no fact exchange") {
    val plan = physical(SparkEntry.queries("q254_centroid_drift")(
      spark, sf001))
    assert(countOccurrences(plan, "Scan parquet") == 1,
      s"global centroid must derive from the per-label sums, not a rescan:\n$plan")
  }

  test("q257 weighted jaccard: sparse token join, no cartesian product") {
    val plan = physical(SparkEntry.queries("q257_weighted_jaccard_sources")(
      spark, sf001))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair space must ride the token equi-join:\n$plan")
  }

  // ---- round-9 de-scale-kill contracts: the global-rank rewrites must
  // not regress back to a row_number over fact/entity-grain rows ----

  test("q269/q341 rank-sum: the sort feeds an aggregate, never fact rows") {
    for (q <- Seq("q269_rank_sum_test", "q341_region_delay_ranksum")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf001))
      // value-grain cumulative window: the single-partition sort must
      // sit ABOVE a hash aggregate (the value-grain groupBy), i.e. the
      // frame entering the window was already aggregated
      val win = plan.indexOf("Window")
      assert(win >= 0, s"$q: expected the value-grain window:\n$plan")
      val aggBelow = plan.indexOf("HashAggregate", win)
      assert(aggBelow > win,
        s"$q: the window must rank an aggregated value frame:\n$plan")
    }
  }

  test("top-N leaderboards use TakeOrderedAndProject, not a global rank") {
    // q259 (customer grain) and q302 (token-vocabulary grain) joined the
    // list in round 10 — the last two rank-then-filter stragglers
    for (q <- Seq("q340_movers_shakers", "q277_price_drift",
      "q289_procurement_arbitrage", "q255_substitution_candidates",
      "q245_oov_ladder", "q259_overdue_customers", "q302_topk_stability")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf001))
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: expected TakeOrderedAndProject:\n$plan")
    }
  }

  test("q259/q302 carry no unpartitioned window over an unbounded frame") {
    // q259: no window at all pre-limit (ranks are assigned on the 20-row
    // result). q302: the only windows are partitioned by drop_slice (16
    // jackknife folds — bounded by design, see SCALING.md). The q302
    // check walks the logical Window operators' partitionSpec directly
    // (not a plan-string regex, which silently weakened if the print
    // format reordered the spec).
    val p259 = physical(SparkEntry.queries("q259_overdue_customers")(
      spark, sf001))
    val limIdx = p259.indexOf("TakeOrderedAndProject")
    assert(limIdx >= 0 && !p259.substring(limIdx).contains("Window"),
      s"q259: no window may run below the top-20 heap:\n$p259")
    val wins302 = SparkEntry.queries("q302_topk_stability")(spark, sf001)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(wins302.nonEmpty, "q302: expected the jackknife windows")
    wins302.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.exists(_.references.exists(_.name == "drop_slice")),
        s"q302: every window must be partitioned by drop_slice, got " +
          s"partitionSpec=${w.partitionSpec}")
    }
  }

  // ---- round-11 GLOBAL invariant: the entity-grain full-rank class is
  // pinned SHUT. An unpartitioned Window (logical partitionSpec empty)
  // funnels its whole input frame through ONE task — the classic 100 TB
  // scale-killer. After the r11 migration of q232/q319/q209/q294/q339/
  // q282/q337/q206/q246/q265 onto ScaleOps.distributedRank /
  // distributedCumSum / value-grain boundary cuts, the ONLY legitimate
  // unpartitioned windows left run over frames bounded by DESIGN, not by
  // data volume. Each is whitelisted here with its bound; a new query
  // (or a regression) that puts an unpartitioned window over an
  // entity/fact-grain frame fails this test instead of surviving until
  // a judge reads the plan. ----

  /** query → the bounded frame its unpartitioned window(s) run over.
    * Classes: post-limit (≤N rows after a TakeOrderedAndProject/limit),
    * value-grain (distinct values of a domain-bounded measure),
    * calendar-grain (days/months of the corpus span), dimension-grain
    * (sources/nations/segments/shards/folds/bands — schema-bounded).
    */
  private val boundedWindowWhitelist: Map[String, String] = Map(
    // calendar-grain (the corpus' day/month span, not its row count)
    "q239_rolling_median_revenue" -> "day-grain rolling median",
    "q264_growth_accounting" -> "day-grain lag/lead",
    "q271_runs_test" -> "day-grain lag",
    "q287_ltv_curve" -> "customer-age-in-days cumulative",
    "q299_supplier_coverage" -> "month-grain coverage + scalar",
    "q303_trailing_index" -> "month-grain trailing window",
    "q316_forecast_bakeoff" -> "month-grain trailing windows",
    "q335_peak_month_distribution" -> "12-row month histogram scalar",
    // value-grain (distinct values of a bounded domain)
    "q111_length_calibration" -> "token-count domain cumulative",
    "q247_dup_cluster_sizes" -> "dup-size histogram scalar",
    "q269_rank_sum_test" -> "cent-value-grain cumulative",
    "q274_value_width_density" -> "~40x7 bit-length x width cells",
    "q275_supply_risk" -> "suppliers-per-part domain scalar",
    "q300_health_card" -> "cent-value-grain cumulative",
    "q310_ops_health_card" -> "gap-days-grain cumulative",
    "q341_region_delay_ranksum" -> "day-delay-grain cumulative",
    // dimension-grain (schema-bounded key sets)
    "q113_temperature_mixture" -> "per-source frame scalars",
    "q198_epoch_interleave" -> "distinct-source list rank",
    "q252_shard_balance" -> "16-row shard frame scalars",
    "q253_source_overlap_upset" -> "per-source count rank",
    "q268_freshness_audit" -> "3-row feed union scalar",
    "q279_kfold_balance" -> "5-fold x lang cell scalars",
    "q281_segment_mix_shift" -> "segment-grain scalars",
    "q290_basket_diversity" -> "4-row band histogram scalar",
    "q292_dom_profile" -> "31-row day-of-month scalars",
    "q309_tax_band_audit" -> "tax-band histogram scalar",
    "q314_import_diversity" -> "4-row band histogram scalar",
    "q326_hamilton_allocation" -> "25-row nation frame",
    "q65_dim_correlation" -> "dim-pair frame (dims^2, dims fixed)",
    // post-limit (rank/scalar over an already-limited ≤N-row frame)
    "q165_market_basket" -> "rank over top-50 result",
    "q245_oov_ladder" -> "rank over 25-row vocab head",
    "q255_substitution_candidates" -> "rank over top-20 result",
    "q259_overdue_customers" -> "rank over top-20 result",
    "q277_price_drift" -> "rank over top-20 result",
    "q289_procurement_arbitrage" -> "rank over top-N result",
    "q340_movers_shakers" -> "rank over top-15 result")

  /** Optimized logical plans are built once and shared across the
    * contract tests below: building a query is NOT plan-only (eager
    * primitives — distributedRank/groupedRank/localCheckpoint — run
    * real shuffle+count jobs at DataFrame-BUILD time), so rebuilding
    * the whitelisted queries per test would triple that cost.
    */
  private val optimizedPlanCache = scala.collection.mutable.HashMap[
    String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
  private def optimized(
      q: String): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    optimizedPlanCache.getOrElseUpdate(q,
      SparkEntry.queries(q)(spark, sf001).queryExecution.optimizedPlan)

  /** True iff EVERY leaf-ward path from `p` passes through a node
    * `isReducer` accepts: unary operators are walked through, and a
    * binary node (join, union) requires ALL children bounded — so a
    * Limit/Aggregate on a join's OTHER branch cannot vouch for an
    * unbounded fact branch (a `collectFirst` over the subtree would
    * accept exactly that). Leaves are unbounded by definition.
    */
  private def boundedBelow(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      isReducer: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan => Boolean): Boolean =
    p match {
      case n if isReducer(n) => true
      // grain-EXPANDING nodes undo any bound proven below them: an
      // explode (Generate) between the window and its Aggregate turns
      // a bounded-domain frame back into data-sized rows, and an
      // object-seam flatMap can emit arbitrarily many rows per input.
      // They must TERMINATE the walk as unbounded, not be walked
      // through like a projection. (Expand — grouping sets — is left
      // as a pass-through: it multiplies by the fixed projection
      // count, so bounded×constant stays bounded.)
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate => false
      case _: org.apache.spark.sql.catalyst.plans.logical.MapPartitions => false
      case _: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => false
      case _: org.apache.spark.sql.catalyst.plans.logical.CoGroup => false
      case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode =>
        boundedBelow(u.child, isReducer)
      case b => b.children.nonEmpty &&
        b.children.forall(boundedBelow(_, isReducer))
    }

  test("boundedBelow rejects a grain-expanding node between window and reducer") {
    // the r14-noted gap, closed: a window above explode(...) above an
    // Aggregate must NOT count as bounded — the explode re-expands the
    // aggregated frame to data grain. Build exactly that shape and
    // assert the walk refuses it (and accepts it with the explode
    // removed, so the test can't pass vacuously).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    import org.apache.spark.sql.expressions.{Window => WSpec}
    import org.apache.spark.sql.functions._
    val base = spark.range(100)
      .groupBy((col("id") % 10L).as("k"))
      .agg(collect_list("id").as("ids"))
    def isReducer(
        n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      n match {
        case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
        case _ => false
      }
    val exploded = base.select(col("k"), explode(col("ids")).as("id"))
      .withColumn("r", row_number().over(WSpec.orderBy("id")))
    val expWins = exploded.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(expWins.nonEmpty, "shape lost its unpartitioned window")
    assert(expWins.forall(w => !boundedBelow(w.child, isReducer)),
      "window above explode above Aggregate passed the walk — the " +
        "grain-expansion gap is back")
    val plain = base.select(col("k"))
      .withColumn("r", row_number().over(WSpec.orderBy("k")))
    val plainWins = plain.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(plainWins.nonEmpty && plainWins.forall(w =>
        boundedBelow(w.child, isReducer)),
      "control shape (no explode) should be accepted")
  }

  test("post-limit whitelist entries are verified by plan walk, not prose") {
    // the whitelist's post-limit CLASS claims each query's
    // UNPARTITIONED window runs over an already-limited <=N-row frame.
    // Verify that structurally: in the optimized logical plan, every
    // leaf-ward path under every unpartitioned Window must pass through
    // a Limit — the bound then holds by plan shape, not by comment.
    // (Partitioned windows below the limit — e.g. q277's per-partkey
    // first/last passes — are scale-safe and not this class's claim.)
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Window => LWindow}
    val postLimit = Seq("q165_market_basket", "q245_oov_ladder",
      "q255_substitution_candidates", "q259_overdue_customers",
      "q277_price_drift", "q289_procurement_arbitrage",
      "q340_movers_shakers")
    assert(postLimit.forall(boundedWindowWhitelist.contains),
      "post-limit list drifted from the whitelist")
    for (q <- postLimit) {
      val opt = optimized(q)
      val unpart = opt.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpart.nonEmpty,
        s"$q: whitelisted as post-limit rank but no unpartitioned " +
          s"window in the plan (stale entry?):\n$opt")
      unpart.foreach { w =>
        assert(boundedBelow(w.child, {
            case _: GlobalLimit | _: LocalLimit => true
            case _ => false
          }),
          s"$q: an unpartitioned window runs over an UNLIMITED frame — " +
            s"the post-limit bound is violated:\n$opt")
      }
    }
  }

  test("whitelisted bounded windows all sit above a grain-reducing node") {
    // the non-post-limit whitelist classes (value-/calendar-/dimension-
    // grain) all claim the same structural fact: the unpartitioned
    // window runs over a frame whose grain was REDUCED below it — an
    // Aggregate (groupBy to the bounded domain; distinct optimizes to
    // one) or a Limit. Verify by plan walk: every leaf-ward path under
    // every unpartitioned Window must pass through an Aggregate or
    // Limit (all-children rule at joins/unions, see boundedBelow). A
    // window directly over fact-grain rows — even one joined against a
    // limited dim — would pass the prose whitelist but fail here.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    for ((q, bound) <- boundedWindowWhitelist.toSeq.sortBy(_._1)) {
      val opt = optimized(q)
      val unpart = opt.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      unpart.foreach { w =>
        assert(boundedBelow(w.child, {
            case _: Aggregate | _: GlobalLimit | _: LocalLimit => true
            case _ => false
          }),
          s"$q (whitelisted: $bound): an unpartitioned window has a " +
            s"leaf-ward path with NO aggregate/limit on it — the " +
            s"stated bound is not structural:\n$opt")
      }
    }
  }

  test("GLOBAL: every unpartitioned Window in all query plans is whitelisted as bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val hits = scala.collection.mutable.SortedSet[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val unpart = optimized(name).collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (unpart.nonEmpty) hits += name
    }
    val violations = hits -- boundedWindowWhitelist.keySet
    assert(violations.isEmpty,
      s"unpartitioned Window over a non-whitelisted frame — either a " +
        s"scale regression (use ScaleOps.distributedRank/distributedCumSum " +
        s"or a value-grain rewrite) or a new bounded frame to whitelist " +
        s"WITH its bound: ${violations.mkString(", ")}")
    // keep the whitelist tight: entries whose windows disappeared are
    // stale and must be removed (they would mask a future regression)
    val stale = boundedWindowWhitelist.keySet -- hits
    assert(stale.isEmpty,
      s"whitelist entries with no unpartitioned window left: " +
        s"${stale.mkString(", ")}")
  }

  // ---- round-11 GLOBAL invariant #2: every join that CANNOT extract
  // equi-keys (a cross join, or a condition with no cross-side equality
  // conjunct) plans as BroadcastNestedLoopJoin or CartesianProduct — at
  // 100 TB the former is safe only when the broadcast side is bounded
  // and the latter never is. The repo's audited pattern is
  // `crossJoin(broadcast(<1-row or schema-bounded frame>))`: the
  // explicit hint is the author's certification that the side is
  // bounded. This test walks ALL 342 optimized plans and fails any
  // non-equi join with NO broadcast hint on either side — mechanizing
  // what was previously a per-round manual audit. (SF-independent by
  // construction: it reads the logical plan, not auto-broadcast
  // decisions made from local statistics.) ----

  test("GLOBAL: every cross/non-equi join in all query plans carries a broadcast hint") {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    // mirrors ExtractEquiJoinKeys: at least one top-level conjunct must
    // be an equality whose two legs reference opposite join sides
    def hasEquiKey(j: LJoin): Boolean = {
      val l = j.left.outputSet
      val r = j.right.outputSet
      def crossSide(a: Expression, b: Expression): Boolean =
        a.references.nonEmpty && b.references.nonEmpty &&
          ((a.references.subsetOf(l) && b.references.subsetOf(r)) ||
            (a.references.subsetOf(r) && b.references.subsetOf(l)))
      j.condition.toSeq.flatMap(conjuncts).exists {
        case EqualTo(a, b) => crossSide(a, b)
        case EqualNullSafe(a, b) => crossSide(a, b)
        case _ => false
      }
    }
    def hinted(j: LJoin): Boolean =
      j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST))

    val hits = scala.collection.mutable.SortedSet[String]()
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val bad = optimized(name).collect {
        case j: LJoin if !hasEquiKey(j) && !hinted(j) => j
      }
      if (bad.nonEmpty) hits += name
    }
    assert(hits.isEmpty,
      s"non-equi join with no broadcast hint — either hint the bounded " +
        s"side explicitly (crossJoin(broadcast(...)) / " +
        s"join(broadcast(...), cond)) or restructure to an equi join: " +
        s"${hits.mkString(", ")}")
  }

  test("the r11 grouped-rank sweep stays window-rank-free") {
    // the 14 queries migrated off bounded-partition rank windows (the
    // grouped twin of the unpartitioned full-rank class) must never
    // regain a RowNumber/NTile/PercentRank window — their ranks come
    // from ScaleOps.distributedRank/groupedRank. Order-class windows
    // (lag over a user key, e.g. q284's gap pairing) remain legitimate.
    import org.apache.spark.sql.catalyst.expressions.{NTile, PercentRank, RowNumber}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val swept = Seq("q142_funnel_latency", "q228_decile_mobility",
      "q266_qq_deciles", "q261_winsorization_preview",
      "q244_join_skew_audit", "q235_spearman_len_tokens",
      "q203_gap_percentiles", "q202_trimmed_mean", "q216_balance_deciles",
      "q284_transition_latency", "q179_gini_concentration",
      "q46_length_percentile", "q51_stratified_sample",
      "q152_dsir_selection")
    for (q <- swept) {
      val rankWindows = optimized(q).collect {
          case w: LWindow if w.windowExpressions.exists(_.exists {
            case _: RowNumber | _: NTile | _: PercentRank => true
            case _ => false
          }) => w
        }
      assert(rankWindows.isEmpty,
        s"$q: rank window regressed back in:\n${rankWindows.mkString("\n")}")
    }
    // the grouped-cumsum/fill/lag set: q159's per-source budget fill,
    // q200's inlined twin, q211's brand-keyed as-of carries and q203's
    // per-type gap pairing must carry NO ordered window at all —
    // running sums ride ScaleOps.groupedCumSum, carries ride
    // groupedFill and the gap pairing rides groupedLag (q200 keeps its
    // md5-keyed dedup window: entity-hash partitions, unordered)
    for (q <- Seq("q159_token_budget_fill", "q200_clean_pipeline",
        "q211_cold_parts", "q203_gap_percentiles")) {
      val ordered = optimized(q).collect {
        case w: LWindow if w.orderSpec.nonEmpty => w
      }
      assert(ordered.isEmpty,
        s"$q: ordered window regressed back in:\n${ordered.mkString("\n")}")
    }
  }

  test("q300/q310 exact selection: no row_number over the fact frame") {
    for (q <- Seq("q300_health_card", "q310_ops_health_card")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf001))
      // the medians/percentiles ride cumulative sums over value-grain
      // aggregates; a row_number in these plans would mean the rewrite
      // regressed to per-row global ranking
      assert(!plan.contains("row_number"),
        s"$q: expected no per-row global rank:\n$plan")
    }
  }
}
