package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** MACHINE-ASSERTED plan pins — the enforcement side of the `PlanCheck
  * #N` claims cited throughout the library's docstrings (PlanCheck.scala
  * prints the same plans for eyeball review; this suite FAILS when a
  * pinned shape regresses). Every oracle in CORRECTNESS_r*.json stays
  * green at sf0.01 whether or not a broadcast flips to sort-merge, a
  * Window loses its partitionBy, or a filter stops reaching the scan —
  * those regressions only surface at 100× scale, so the plan SHAPE is
  * asserted here, statically (AQE off: the pins are about what the
  * optimizer emits, and AQE's runtime rewrites only ever upgrade the
  * asserted shapes — a plan that is broadcast/partitioned/shuffle-free
  * statically stays so adaptively).
  */
class PlanCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-check-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Build a driver query's physical plan WITHOUT executing it (ops
    * whose construction runs a driver-side prepass — vocab collects,
    * bucket totals, power iterations — still run that part).
    */
  private def planOf(name: String): SparkPlan = {
    val p = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
    spark.catalog.clearCache()
    p
  }
  private def shuffles(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }
  private def broadcastJoins(p: SparkPlan) = p.collect { case j: BroadcastHashJoinExec => j }
  private def cartesians(p: SparkPlan) = p.collect {
    case c: CartesianProductExec => c: SparkPlan
    case b: BroadcastNestedLoopJoinExec => b: SparkPlan
  }
  private def windows(p: SparkPlan) = p.collect { case w: WindowExec => w }

  // Pin applied to EVERY query this suite touches: an unpartitioned
  // Window (one task sorts everything) is never acceptable.
  private def assertWindowsPartitioned(name: String, p: SparkPlan): Unit =
    windows(p).foreach(w => assert(w.partitionSpec.nonEmpty,
      s"$name: Window without partitionBy (single-task global sort):\n$w"))

  test("checker sanity: an unpartitioned window IS detected") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(10).withColumn("r",
      row_number().over(Window.orderBy(col("id"))))
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.exists(_.partitionSpec.isEmpty),
      "control: the global-window plan should contain an unpartitioned WindowExec")
  }

  test("extraction spine: ONE exchange, repartition-by-column so AQE may size it") {
    // The salted exchange carries no partition count of its own: a
    // REPARTITION_BY_NUM origin (a computed width) is one AQE may not
    // coalesce, and a second exchange would move the results twice.
    import org.apache.spark.sql.execution.exchange.REPARTITION_BY_COL
    implicit val s: SparkSession = spark
    val p = graft.spark.ExtractPipeline.run(
      graft.gen.PagesGen.fromDocuments(spark, sfDir), graft.spark.ExtractConf())
      .queryExecution.executedPlan
    val ex = shuffles(p)
    assert(ex.length == 1, s"spine: expected exactly one exchange, got ${ex.length}:\n$p")
    assert(ex.head.shuffleOrigin == REPARTITION_BY_COL,
      s"spine: exchange origin is ${ex.head.shuffleOrigin}, not REPARTITION_BY_COL:\n$p")
  }

  test("map-only family: ZERO exchange, zero joins of any kind") {
    // Per-row transform queries — parse/normalize/classify work that at
    // 10^12 docs must stay embarrassingly parallel. A shuffle appearing
    // in any of these is a plan regression no sf0.01 oracle would catch.
    val mapOnly = Seq(
      "e32_url_canonical",    // PlanCheck #44
      "t23_normalize",        // PlanCheck #33
      "t14_quality_rules",    // PlanCheck #18
      "t8_stratified_sample", // hash-gate filter, map-only
      "m4_image_dims",        // PlanCheck #49
      "m5_charset",           // PlanCheck #52
      "m6_http_responses",    // PlanCheck #53
      "e35_page_directives",  // PlanCheck #56
      "t29_script_mix",       // PlanCheck #57
      "e36_hreflang_alternates", // PlanCheck #59
      "e37_sitemap_entries",  // PlanCheck #60
      "d16_pq_codes",         // PlanCheck #34 (codebooks inlined)
      "t26_split",            // group-hash gate — no window, no shuffle
      "t48_overlap_chunks",   // bounded explode — no window, no shuffle
      "d39_sq8_encode",       // ranges inlined — encode pass is map-only
      "m28_avro_blocks",      // r4: byte walker in the scan stage
      "m29_jsonl_records",    // r4: byte walker in the scan stage
      "m30_npy_headers",      // r5: byte walker in the scan stage
      "m31_safetensors_headers") // r5: byte walker in the scan stage
    for (name <- mapOnly) {
      val p = planOf(name)
      assert(shuffles(p).isEmpty, s"$name: map-only query grew a shuffle:\n$p")
      assert(cartesians(p).isEmpty, s"$name: cartesian in a map-only query:\n$p")
      assertWindowsPartitioned(name, p)
    }
  }

  test("claimed broadcast joins ARE broadcast (no sort-merge flip, no cartesian)") {
    // Small-side-broadcast claims: eval/dim tables inlined against the
    // corpus. A silent flip to SortMergeJoin keeps every oracle green
    // and full-shuffles the corpus at scale.
    val broadcastClaims = Seq(
      "d9_ann_ivf_topk",         // PlanCheck: cell-restricted broadcast join
      "d12_decontaminate",       // PlanCheck #12: eval grams broadcast
      "t30_contamination_report",
      "t25_host_boilerplate",    // PlanCheck #43: strip join broadcast
      "d15_fuzzy_decontaminate") // PlanCheck #26: eval bands broadcast
    for (name <- broadcastClaims) {
      val p = planOf(name)
      assert(broadcastJoins(p).nonEmpty,
        s"$name: claimed broadcast join is not a BroadcastHashJoin:\n$p")
      assert(cartesians(p).isEmpty, s"$name: cartesian product appeared:\n$p")
      assertWindowsPartitioned(name, p)
    }
    // d17's probe join is deliberately NON-equi (vec_id != q_id), so its
    // broadcast plans as BroadcastNestedLoopJoin — the probes side must
    // still be the broadcast one, and no unbroadcast CartesianProduct
    // may appear (PlanCheck #35: the DF-bounded probe sample is the
    // scale argument).
    val p17 = planOf("d17_adc_topk")
    val bnl = p17.collect { case b: BroadcastNestedLoopJoinExec => b }
    assert(bnl.nonEmpty, s"d17_adc_topk: probes join lost its broadcast:\n$p17")
    assert(p17.collect { case c: CartesianProductExec => c }.isEmpty,
      s"d17_adc_topk: unbroadcast cartesian appeared:\n$p17")
    assertWindowsPartitioned("d17_adc_topk", p17)
  }

  test("window consumers: every Window carries a partitionBy") {
    // The prefix-sum / packing / capping family — each uses windows that
    // MUST stay partitioned (t31's two-phase design exists precisely to
    // avoid the unpartitioned global cumsum).
    val windowed = Seq("t31_token_shards", "t13_source_cap",
      "t10_sequence_pack", "e29_politeness_schedule")
    for (name <- windowed) {
      val p = planOf(name)
      assert(windows(p).nonEmpty, s"$name: expected Window operators in:\n$p")
      assertWindowsPartitioned(name, p)
      assert(cartesians(p).isEmpty, s"$name: cartesian product appeared:\n$p")
    }
  }

  test("exchange budget: keyed aggregates shuffle exactly as documented") {
    // Exact exchange counts for ops whose docstrings promise a shuffle
    // budget — a new exchange here is a second pass over the corpus.
    val budget = Map(
      "d1_dedup_exact" -> 1,   // one 16-byte-key shuffle
      // t24: ONE corpus-sized exchange (lang,bucket,rho registers) +
      // one register-sized exchange for the final per-lang estimate;
      // the '*' merge branch reads the persisted register cache
      "t24_hll_distinct" -> 2,
      "t22_inverted_index" -> 2) // (doc,word) distinct + word agg
    for ((name, n) <- budget) {
      val p = planOf(name)
      val got = shuffles(p).length
      assert(got == n, s"$name: expected $n exchanges, found $got:\n$p")
      assertWindowsPartitioned(name, p)
    }
  }

  test("round-3 additions: BM25/wilson/burst/mutual-knn plan shapes") {
    // t56: df joins back BROADCAST (a |terms|-row table), the global
    // top-k is TakeOrderedAndProject (per-partition heaps), and the
    // corpus-sized side never cartesians
    val bm25 = planOf("t56_bm25_topk")
    assert(broadcastJoins(bm25).nonEmpty, s"t56: df join lost its broadcast:\n$bm25")
    assert(bm25.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"t56: top-k is not TakeOrderedAndProject (full sort?):\n$bm25")
    assert(cartesians(bm25).isEmpty)
    // single-pass contract: the corpus is scanned ONCE into the persisted
    // hits+sentinel frame (scalars, df, and scoring all read the cache) —
    // the outer plan must contain no FileScan of its own
    assert(bm25.collect { case f: FileSourceScanExec => f }.isEmpty,
      s"t56: corpus scanned outside the persisted pass (two-scan regression):\n$bm25")
    // t60 (r4): map-side pair fanout + ONE pair-keyed exchange — a
    // positional self-join regression would add a join + second shuffle
    val sg = planOf("t60_skipgram_pairs")
    assert(shuffles(sg).length == 1,
      s"t60: expected exactly 1 exchange, got ${shuffles(sg).length}:\n$sg")
    assert(cartesians(sg).isEmpty && broadcastJoins(sg).isEmpty,
      s"t60: pair generation grew a join:\n$sg")
    // e70 (r4, rewritten r5): host rollup + map-only remainder-threshold
    // extras — never a cartesian, and NO ordering structure of any kind
    // remains: no TakeOrderedAndProject with data-dependent k (the r4
    // shape this replaces), no Sort, no join back (the extras membership
    // is a filter predicate on the persisted base frame)
    val cb = planOf("e70_crawl_budget")
    assert(cartesians(cb).isEmpty, s"e70: cartesian appeared:\n$cb")
    assert(cb.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isEmpty, s"e70: driver-side top-k reappeared:\n$cb")
    assert(cb.collect {
      case s: org.apache.spark.sql.execution.SortExec => s
    }.isEmpty, s"e70: global sort appeared:\n$cb")
    assert(cb.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, s"e70: extras pick grew a join back:\n$cb")
    assertWindowsPartitioned("e70_crawl_budget", cb)
    // e71 (r5): schedule windows partitioned by host, quota side joins
    // WITHOUT a cartesian; the budget sub-plan inherits e70's no-sort/
    // no-TakeOrdered shape
    val bs = planOf("e71_budgeted_schedule")
    assert(cartesians(bs).isEmpty, s"e71: cartesian appeared:\n$bs")
    assert(bs.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.isEmpty, s"e71: driver-side top-k appeared:\n$bs")
    assertWindowsPartitioned("e71_budgeted_schedule", bs)
    // p20 (r5): the audit itself is metadata-plane — its join of the two
    // receipt tables must be a plain (non-cartesian) join on shard
    val ra = planOf("p20_release_audit")
    assert(cartesians(ra).isEmpty, s"p20: cartesian appeared:\n$ra")
    assert(ra.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.nonEmpty, s"p20: receipt join vanished:\n$ra")
    // e67: ONE map-side-combined host rollup — exactly one exchange,
    // Wilson arithmetic is per-aggregate-row scalar work
    val wilson = planOf("e67_host_wilson")
    assert(shuffles(wilson).length == 1,
      s"e67: expected exactly 1 exchange, got ${shuffles(wilson).length}:\n$wilson")
    assert(cartesians(wilson).isEmpty)
    // e68: (host,window) count + host rollup = two exchanges; the
    // rollup joins back BROADCAST (window-cardinality rows)
    val burst = planOf("e68_burst_windows")
    assert(shuffles(burst).length == 2,
      s"e68: expected exactly 2 exchanges, got ${shuffles(burst).length}:\n$burst")
    assert(broadcastJoins(burst).nonEmpty, s"e68: per-host totals join lost its broadcast:\n$burst")
    // d37: the ranked frame is PERSISTED (its broadcast nested loop
    // lives inside the cached plan — the reciprocity self-join must
    // read the cache twice, not recompute the all-pairs pass), and no
    // unbroadcast cartesian appears anywhere in the outer plan
    val knn = planOf("d37_mutual_knn")
    val knnCaches = knn.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i
    }
    assert(knnCaches.length >= 2,
      s"d37: reciprocity join must read the persisted ranked frame twice:\n$knn")
    assert(knn.collect { case c: CartesianProductExec => c }.isEmpty)
    // the SEED side is the broadcast side, twice: seed membership is a
    // broadcast hash join (seed list ships to the corpus, the corpus
    // never shuffles) and the all-pairs pass is a broadcast nested loop
    // (|seeds| rows ship, not |corpus|) — both live inside the cached
    // ranked plan
    val knnInner = knnCaches.head.relation.cachedPlan
    assert(knnInner.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, s"d37: seed-membership join lost its broadcast:\n$knnInner")
    assert(knnInner.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.nonEmpty, s"d37: all-pairs pass must broadcast the seed side:\n$knnInner")
    assert(knnInner.collect { case c: CartesianProductExec => c }.isEmpty,
      s"d37: unbroadcast cartesian inside the ranked plan:\n$knnInner")
    assertWindowsPartitioned("d37_mutual_knn", knn)
  }

  test("relational spine: q1 single exchange, q3 broadcast dim + TakeOrdered top-k") {
    // q1: one map-side-combined exchange on the 2-value key — the
    // canonical aggregate shape at any fact-table size
    val q1 = planOf("q1_pricing_summary")
    assert(shuffles(q1).length == 1,
      s"q1: expected exactly 1 exchange, got ${shuffles(q1).length}:\n$q1")
    assert(cartesians(q1).isEmpty)
    // q3: the segment-filtered customer dim is BROADCAST (the star-join
    // contract), and the global top-10 is TakeOrderedAndProject
    val q3 = planOf("q3_shipping_priority")
    assert(broadcastJoins(q3).nonEmpty, s"q3: customer dim lost its broadcast:\n$q3")
    assert(q3.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"q3: top-k is not TakeOrderedAndProject:\n$q3")
    assert(cartesians(q3).isEmpty)
    val q18 = planOf("q18_large_orders")
    assert(cartesians(q18).isEmpty)
    // q5: six tables, no cartesian anywhere, and the dimension chain
    // (region->nation, its customer/supplier semi-filters) broadcasts —
    // the fact-fact joins are the only shuffled ones
    val q5 = planOf("q5_local_supplier_volume")
    assert(cartesians(q5).isEmpty, s"q5: nested-loop/cartesian appeared:\n$q5")
    assert(broadcastJoins(q5).length >= 3,
      s"q5: dimension chain lost its broadcasts (${broadcastJoins(q5).length}):\n$q5")
    // pushdown: every q3 scan gets its filter INTO the parquet reader
    // (the cast-to-timestamp on the NTZ column folds away) and reads
    // only the referenced columns — at 100 TB this is partition/row-
    // group pruning vs a full fact-table scan
    val scans = q3.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 3, s"q3: expected 3 parquet scans:\n$q3")
    val byTable = scans.map(f => f.metadata("Location") -> f).toMap
    def scanOf(name: String) = byTable.collectFirst {
      case (loc, f) if loc.contains(name) => f
    }.getOrElse(fail(s"q3: no $name scan"))
    assert(scanOf("lineitem").metadata("PushedFilters").contains("GreaterThan(l_shipdate"),
      "l_shipdate filter not pushed")
    assert(scanOf("orders").metadata("PushedFilters").contains("LessThan(o_orderdate"),
      "o_orderdate filter not pushed")
    assert(scanOf("customer").metadata("PushedFilters").contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter not pushed")
    assert(!scanOf("lineitem").requiredSchema.fieldNames.contains("l_comment") &&
      scanOf("lineitem").requiredSchema.fieldNames.length <= 4,
      s"lineitem scan reads ${scanOf("lineitem").requiredSchema.fieldNames.mkString(",")}")
  }

  test("t22 bounded postings use the object-hash TypedImperativeAggregate path") {
    val p = planOf("t22_inverted_index")
    val oha = p.collect {
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
    }
    assert(oha.nonEmpty,
      s"min_k_longs should plan as ObjectHashAggregate (map-side combined heaps):\n$p")
  }

  test("results read-back: column pruning and predicate pushdown reach the scan") {
    // PlanCheck #2: a metrics pass over the committed results table must
    // read ONLY the grouping columns and push its status filter into the
    // parquet scan — at 100 TB this is the difference between scanning
    // two dictionary-encoded columns and scanning the text corpus.
    val dir = java.nio.file.Files.createTempDirectory("plan-prune").toString
    spark.range(64).select(
      col("id").as("doc_id"),
      concat(lit("u"), col("id")).as("url"),
      when(col("id") % 2 === 0, "html").otherwise("pdf").as("engine"),
      when(col("id") % 8 === 0, "error_timeout").otherwise("ok").as("status"),
      concat(lit("body "), col("id")).as("text"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("status") === "ok")
      .groupBy("engine").count()
    val scans = q.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val scan = scans.head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols.subsetOf(Set("engine", "status")),
      s"scan reads $readCols — text/url must be pruned")
    assert(scan.metadata("PushedFilters").contains("EqualTo(status,ok)"),
      s"status filter not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("iterative family: plan depth stays flat as rounds grow (localCheckpoint truncation)") {
    // Every round-loop op promises lineage truncation per round; a
    // regression re-growing the plan per round is invisible at sf0.01
    // wall clock but fatal at scale (plan explodes, driver OOMs at
    // analysis). Pin: executed-plan node count at 8 rounds must equal
    // the count at 2 rounds (+tiny tolerance for post-loop constants).
    import graft.datapipe.{GraphOps, TrainingOps}
    val s2 = spark; import s2.implicits._
    def nodeCount(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect { case p => p }.length
    // a 12-host two-chain graph: deep enough that 8 rounds do real work
    val edges = (0L until 11L).map(i => (s"h$i", s"h${i + 1}"))
      .toDF("src", "dst")
    val seeds = Seq("h0").toDF("host")
    val docsFix = (0L until 12L)
      .map(i => (i, (0 until 40).map(j => s"w${i / 2} t$j common").mkString(" ")))
      .toDF("doc_id", "text")
    val nodesFix = (0L until 12L).map(i => s"h$i").toDF("tbl")
    val cases: Seq[(String, Int => DataFrame)] = Seq(
      ("e23 hostRank", n => GraphOps.hostRank(edges, iters = n)),
      ("e44 hits", n => GraphOps.hits(edges, iters = n)),
      ("e46 crawlDepth", n => GraphOps.crawlDepth(edges, seeds, maxHops = n)),
      ("e48 components", n => GraphOps.connectedComponents(edges, maxRounds = n)),
      ("e34 resolveRedirects", n => GraphOps.resolveRedirects(edges, maxHops = n)),
      ("p18 backfillLayers", n => TrainingOps.backfillLayers(nodesFix, edges, maxRounds = n)),
      ("d10 dupClusters", n => TrainingOps.dupClusters(docsFix, maxIters = n)))
    for ((name, op) <- cases) {
      val low = nodeCount(op(2))
      val high = nodeCount(op(8))
      assert(high <= low + 2,
        s"$name: plan grew with rounds ($low nodes @2 -> $high @8) — lineage re-grows per round")
      spark.catalog.clearCache()
    }
  }

  test("d2/d4 band join: equi-join on capped buckets, never a theta/nested-loop pair blow-up") {
    // The LSH candidate self-join's scale contract: (a) the join is an
    // EQUI join on (band, bv) — a regression to a theta-join plans as
    // BNLJ/cartesian and enumerates |bucket|^2 cross-bucket pairs;
    // (b) the bucket-size cap filter sits between the count and the
    // join; (c) the exact-dup pre-pass (groupBy md5(text)) and the
    // final pair distinct are aggregates, so duplicate swarms collapse
    // before banding and pair multiplicity never leaves the stage.
    // deep traversal: the rep pre-pass lives inside the persisted band
    // table's InMemoryRelation, which plain collect does not enter
    def deep(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        (i: SparkPlan) +: deep(i.relation.cachedPlan)
      case n => Seq(n)
    }
    for (name <- Seq("d2_dedup_minhash_lsh", "d4_dedup_jaccard")) {
      val p = planOf(name)
      val all = deep(p)
      assert(all.collect {
        case c: CartesianProductExec => c: SparkPlan
        case b: BroadcastNestedLoopJoinExec => b: SparkPlan
      }.isEmpty, s"$name: candidate join degenerated to nested-loop/cartesian:\n$p")
      val aggs = all.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a: SparkPlan
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o: SparkPlan
        case so: org.apache.spark.sql.execution.aggregate.SortAggregateExec => so: SparkPlan
      }
      // rep pre-pass + bucket count + pair distinct, each partial+final
      assert(aggs.length >= 6,
        s"$name: expected >= 6 aggregate nodes (pre-pass/cap-count/distinct), got ${aggs.length}:\n$p")
      val capFilters = all.collect {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("bn") => f
      }
      assert(capFilters.nonEmpty, s"$name: band-bucket cap filter missing:\n$p")
      assertWindowsPartitioned(name, p)
    }
  }
}
