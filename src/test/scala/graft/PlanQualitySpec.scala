package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.queries.Registry

/** Plan-shape regression tests: the physical plans PLANS.md documents are
  * asserted here so a refactor can't silently trade them away. These are
  * the properties that survive a 100× scale-up — top-k fusion, scan-level
  * filter pushdown, column pruning, broadcast of bounded sides. */
class PlanQualitySpec extends SparkSpec {

  private def run(name: String): DataFrame = {
    val q = Registry.byName(name)
    q.setup.foreach(_(spark, sf0001)) // fixture phase (q266+ split it out)
    q.run(spark, sf0001)
  }

  private def executed(df: DataFrame): SparkPlan = {
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("q15 fuses ORDER BY + LIMIT into TakeOrderedAndProject (no global sort)") {
    val plan = executed(run("q15_topk"))
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
  }

  test("q19's time-range filter reaches the parquet scan as data filters") {
    val plan = executed(run("q19_date_filter"))
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    assert(scans.head.dataFilters.size >= 2, s"expected pushed range filters: ${scans.head}")
    // and the scan reads only the filter column (count needs nothing else)
    assert(scans.head.requiredSchema.fieldNames.toSeq === Seq("l_shipdate"))
  }

  test("q09 star join broadcasts both dimension sides and prunes lineitem to 3 columns") {
    val plan = executed(run("q09_star_join_revenue"))
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size === 2, plan.toString)
    val lineitemScan = plan.collect { case s: FileSourceScanExec => s }
      .find(_.requiredSchema.fieldNames.contains("l_extendedprice")).get
    assert(lineitemScan.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_extendedprice", "l_discount"))
  }

  test("q24 broadcasts the probe side, not the corpus") {
    val plan = executed(run("q24_cosine_topk"))
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, plan.toString)
  }

  test("q42 chart percent metrics compile to a broadcast total, not a global window") {
    // A WindowExec with an empty partitionSpec moves the entire input
    // through one task — the scale-killer the percent-metrics path had in
    // round 1. The compiler now uses a 1-row aggregate + broadcast join.
    val plan = executed(run("q42_chart_timegrain"))
    val globalWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWindows.isEmpty, s"partition-less WindowExec in chart plan: $plan")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty, plan.toString)
  }

  test("q48's rank filter pushes into WindowGroupLimit (map-side partial top-k)") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val plan = executed(run("q48_rank_ties"))
    assert(plan.collect { case w: WindowGroupLimitExec => w }.nonEmpty, plan.toString)
  }

  test("q27 never re-evaluates the sketch pipeline inside a pushed filter") {
    // Nullable join keys generate IsNotNull constraints; pushed through the
    // staging projections they re-run simhash64(transform(...)) per row in
    // a scan filter — 2× the query's cost in round 2 until the keys were
    // staged non-nullable. Lock: no Filter condition mentions the sketch.
    import org.apache.spark.sql.execution.FilterExec
    val plan = executed(run("q27_simhash_neardup"))
    val offenders = plan.collect {
      case f: FilterExec if f.condition.toString.contains("simhash64") ||
        f.condition.toString.contains("minhash_sig") => f
    }
    assert(offenders.isEmpty, s"sketch re-evaluated in a filter:\n$offenders")
  }

  test("q68 probes the train corpus against a broadcast test side with clean scan filters") {
    import org.apache.spark.sql.execution.FilterExec
    val plan = executed(run("q68_decontamination"))
    // InferFiltersFromGenerate's size(sh)>0 guard, pushed through the
    // staging projections, re-runs the tokenize→shingle transform per scan
    // row (~3.5× the operator's cost) — the outer-generate form must keep
    // every filter free of the pipeline.
    val offenders = plan.collect {
      case f: FilterExec if f.condition.toString.contains("transform(") => f
    }
    assert(offenders.isEmpty, s"shingle pipeline re-evaluated in a filter:\n$offenders")
    // the inverted-index join builds on the (small) test side; the train
    // corpus streams — the only shuffles are the pair-count agg and the
    // output sort.
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2, plan.toString)
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"train side should not shuffle:\n$plan")
  }

  test("q69/q73 sharded prefix sums never run a one-task-per-group window") {
    // Language-grade groups are few and fat; the two-level scan must keep
    // every big window partitioned by (group, shard) — the per-shard-totals
    // window is fine (shards-per-group rows), a partition-less window never.
    for (q <- Seq("q69_sequence_packing", "q73_budget_mix")) {
      val plan = executed(run(q))
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.forall(_.partitionSpec.nonEmpty), s"$q global window:\n$plan")
      assert(windows.exists(_.partitionSpec.size >= 2),
        s"$q missing the (group, shard) window:\n$plan")
    }
  }

  test("q75 funnel stacks its three windows on one user exchange") {
    // All three conditional-min stages share PARTITION BY user_id, so
    // consecutive WindowExecs reuse a single shuffle; only the final
    // 1-row aggregate adds an exchange. The chained-join formulation
    // would shuffle once per stage.
    val plan = executed(run("q75_funnel"))
    assert(plan.collect { case w: WindowExec => w }.size === 3, plan.toString)
    // exactly ONE exchange hashes on user_id (the shared window shuffle);
    // the remaining exchanges belong to the final multi-distinct aggregate
    // (Expand + single-partition), NOT to per-stage re-shuffles.
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val userShuffles = plan.collect { case e: ShuffleExchangeLike => e }
      .filter(_.outputPartitioning match {
        case HashPartitioning(exprs, _) => exprs.forall {
          case a: AttributeReference => a.name == "user_id"
          case _ => false
        }
        case _ => false
      })
    assert(userShuffles.size === 1, s"funnel re-shuffled per stage:\n$plan")
    assert(plan.collect { case e: ShuffleExchangeLike => e }.size <= 3, plan.toString)
  }

  test("percent metrics over a file source: bounded recompute, no global window") {
    // The broadcast-total design re-executes the grouped subtree for the
    // 1-row total when the planner doesn't dedupe it (static planning
    // emits a ReusedExchange; AQE's stage cache currently doesn't match
    // this shape). That cost is bounded (2x, fully parallel) — unlike the
    // partition-less window it replaced, which serialized the whole result
    // through one task. Lock the bound and the window's absence.
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import graft.bi.{ChartCompiler, ChartSpec, Metric}
    val df = ChartCompiler.compile(spark,
      ChartSpec(datasource = "events", queryMode = "aggregate",
        groupby = Seq("event_type"),
        metrics = Seq(Metric("count", None, "cnt")),
        percentMetrics = Seq(Metric("count", None, "cnt")),
        orderBy = Seq(("event_type", true)), rowLimit = 1000),
      _ => Tables.events(spark, sf0001))
    val plan = executed(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    val reused = plan.collect { case r: ReusedExchangeExec => r }
    assert(scans.size <= 2 || reused.nonEmpty, s"unbounded recompute: $plan")
    assert(plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty)
  }

  test("q50 as-of join is one key shuffle + one window — no nested-loop, no row amplification") {
    val plan = executed(run("q50_asof_join"))
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"as-of lowered to a nested loop: $plan")
    // exactly one WindowExec (the carry-forward), partitioned by the key
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.size === 1 && wins.head.partitionSpec.nonEmpty, plan.toString)
  }

  test("q55 BM25 broadcasts term stats; only the doc-key shuffles are hash exchanges") {
    val plan = executed(run("q55_bm25_topk"))
    // df + corpus stats ride broadcasts, never a sort-merge over the corpus
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, plan.toString)
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.size <= 1,
      s"more than the 1-row corpus-stats cross join went nested-loop: $plan")
  }

  test("q59 rollup plans a single Expand + one aggregate exchange, not one scan per set") {
    import org.apache.spark.sql.execution.ExpandExec
    val plan = executed(run("q59_rollup"))
    assert(plan.collect { case e: ExpandExec => e }.size === 1, plan.toString)
    assert(plan.collect { case s: FileSourceScanExec => s }.size === 1,
      s"rollup re-scanned the table: $plan")
  }

  test("q61 heavy hitters fuses the final top-k (no global sort of all terms)") {
    val plan = executed(run("q61_heavy_hitters"))
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
  }

  test("q63 centroid's corpus-sized shuffle carries scalar rows, never whole vectors") {
    // The n·dim long-form exchange (the one fed straight by the scan) must
    // be scalar — that's the shuffle proportional to corpus size. The later
    // reassembly exchange carries |groups| partial collect_list buffers
    // (bounded by dim), which is fine.
    val plan = executed(run("q63_embedding_centroids"))
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    val deepest = shuffles.filter(
      _.child.collect { case x: ShuffleExchangeLike => x }.isEmpty)
    assert(deepest.nonEmpty, plan.toString)
    deepest.foreach { e =>
      val arrayFields = e.child.schema.fields.filter(
        _.dataType.typeName.startsWith("array"))
      assert(arrayFields.isEmpty,
        s"vector column rides the corpus shuffle: ${e.child.schema.fieldNames.toSeq}")
    }
  }

  test("q26's band join shuffles slim rows only (no text/shingles through the exchange)") {
    val plan = executed(run("q26_minhash_neardup"))
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    // every shuffled row schema stays narrow: no `text` or shingle arrays
    shuffles.foreach { e =>
      val fields = e.child.schema.fieldNames.toSet
      assert(!fields.contains("text"), s"text column rides a shuffle: $fields")
    }
  }

  test("q174 substring dedup: document text crosses at most one exchange") {
    val plan = executed(run("q174_substring_dedup"))
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.nonEmpty, "dedup must shuffle its slim window inventory")
    // the (md5, doc_id, pos) inventory shuffles and the dup-position
    // aggregation must never carry document text or token arrays; only
    // the single doc-granularity reassembly join may
    val wide = shuffles.filter { e =>
      val fields = e.child.schema.fieldNames.toSet
      fields.contains("__text") || fields.contains("__toks") || fields.contains("text")
    }
    assert(wide.size <= 1,
      s"text rides ${wide.size} exchanges: ${wide.map(_.child.schema.fieldNames.mkString(","))}")
  }

  test("q175 PQ ADC scan reads only codes; probe LUTs broadcast") {
    val plan = executed(run("q175_ann_pq_adc"))
    // the corpus-sized ADC stage must join against a broadcast LUT —
    // a shuffle of the code table keyed by probe would be the
    // non-scalable formulation
    val bcasts = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(bcasts.nonEmpty, "ADC scoring must broadcast the probe LUTs")
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    shuffles.foreach { e =>
      val fields = e.child.schema.fieldNames.toSet
      assert(!fields.contains("codes") || !fields.contains("lut"),
        s"code×lut product rides a shuffle: $fields")
    }
  }

  test("q91 shipping priority: both joins broadcast, fact scan pruned, top-10 fused") {
    val plan = executed(run("q91_shipping_priority"))
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size === 2, plan.toString)
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
    val factScan = plan.collect { case s: FileSourceScanExec => s }
      .find(_.requiredSchema.fieldNames.contains("l_extendedprice")).get
    assert(factScan.requiredSchema.fieldNames.toSet ===
      Set("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"))
  }

  test("q93's EXISTS lowers to a semi join; lineitem ships only key + shipdate") {
    val plan = executed(run("q93_order_priority"))
    val semis = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semis.nonEmpty, s"no semi join in:\n$plan")
    val lineScan = plan.collect { case s: FileSourceScanExec => s }
      .find(_.requiredSchema.fieldNames.contains("l_shipdate")).get
    assert(lineScan.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_shipdate"))
  }

  test("q95's quantity HAVING aggregates lineitem on 2 columns before any join") {
    val plan = executed(run("q95_large_orders"))
    val lineScan = plan.collect { case s: FileSourceScanExec => s }
      .find(_.requiredSchema.fieldNames.contains("l_quantity")).get
    assert(lineScan.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_quantity"))
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty, plan.toString)
  }

  test("q96/q97 global thresholds are broadcast scalars, never partition-less windows") {
    Seq("q96_nation_balance_share", "q97_top_supplier").foreach { q =>
      val plan = executed(run(q))
      val globalWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(globalWindows.isEmpty, s"partition-less WindowExec in $q: $plan")
      // the 1-row threshold arrives via a broadcast join — as a nested-loop
      // cross (q96's inequality) or, better, a hash join when Catalyst can
      // push the scalar equality into the join key (q97's `= max`)
      val scalarBroadcasts = plan.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: BroadcastHashJoinExec => j
      }
      assert(scalarBroadcasts.nonEmpty, s"expected broadcast scalar join in $q:\n$plan")
    }
  }

  test("q114 pushes every predicate to the scan and reads only 4 columns") {
    val plan = executed(run("q114_forecast_revenue"))
    val scan = plan.collect { case s: FileSourceScanExec => s }.head
    assert(scan.dataFilters.size >= 4, s"expected all predicates pushed: ${scan.dataFilters}")
    assert(scan.requiredSchema.fieldNames.toSet ===
      Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"))
    // the only exchange is the partial→final merge of 1-row partials
    val wide = plan.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.numPartitions > 1 => e
    }
    assert(wide.isEmpty, s"1-row aggregate needs no wide shuffle:\n$plan")
  }

  test("q119's EXISTS/NOT-EXISTS pair lowers to one semi and one anti join") {
    val plan = executed(run("q119_sole_late_supplier"))
    def joinsOf(t: String) = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == t => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType.sql == t => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType.sql == t => j
    }
    assert(joinsOf("LEFT SEMI").nonEmpty, s"no semi join:\n$plan")
    assert(joinsOf("LEFT ANTI").nonEmpty, s"no anti join:\n$plan")
  }

  test("q123's per-token windows are keyed, never global") {
    val plan = executed(run("q123_bigram_lm"))
    val globalWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWindows.isEmpty, plan.toString)
    // the top-3 cut pushes into WindowGroupLimit (map-side partial top-k)
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    assert(plan.collect { case w: WindowGroupLimitExec => w }.nonEmpty, plan.toString)
  }

  test("q109 negative sampling broadcasts probes against one corpus scan") {
    val plan = executed(run("q109_negative_sampling"))
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty, plan.toString)
    // the per-probe top-k window is keyed, never global
    val globalWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globalWindows.isEmpty, plan.toString)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB lever for fact⋈filtered-dim SHUFFLE joins (too big to
    // broadcast): Catalyst injects a bloom-filter semi-filter on the fact
    // side, built from the selective side, so most fact rows die at their
    // own scan instead of shuffling. Size thresholds are tuned down to
    // fire at test scale — the assertion is the mechanism, not the
    // threshold values.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val lineitem = Tables.lineitem(spark, sf0001)
      val urgent = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
      val joined = lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
      val plan = executed(joined)
      assert(plan.toString.toLowerCase.contains("bloomfilter"),
        s"expected an injected bloom runtime filter:\n$plan")
      // semantics unchanged vs the plain join
      val expected = Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001)
            .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.collect().map(_.getLong(1)).sum === expected && expected > 0)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("MOR read subtracts deletes via broadcast anti join — base never shuffles") {
    import graft.engine.Layout
    val t = s"pq_mor_${java.util.UUID.randomUUID().toString.take(8)}"
    Tables.events(spark, sf0001)
      .select("event_id", "event_type", "value").repartition(4)
      .write.saveAsTable(t)
    Layout.deleteWhereMor(spark, t, col("event_id") % 3 === 0)
    val plan = executed(Layout.readCurrent(spark, t))
    val anti = plan.collect { case j: BroadcastHashJoinExec
      if j.joinType.toString == "LeftAnti" => j }
    assert(anti.nonEmpty, s"expected broadcast LeftAnti for the delete set:\n$plan")
    // the base table side must reach the anti join without an exchange:
    // the delete subtraction is a scan-side operation, not a shuffle
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"MOR read must not shuffle the base relation:\n$plan")
  }

  test("scanAt hands the executors only the kept files") {
    import graft.engine.{Layout, Pruning}
    val t = s"pq_prune_${java.util.UUID.randomUUID().toString.take(8)}"
    Tables.events(spark, sf0001)
      .select("event_id", "event_type")
      .repartitionByRange(4, col("event_id"))
      .write.saveAsTable(t)
    Layout.snapshot(spark, t, "v1")
    val preds = Seq(Pruning.Le("event_id", 100L))
    val df = Layout.scanAt(spark, t, "v1", preds)
    val plan = executed(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val (total, kept) = Layout.scanAtFileCounts(spark, t, "v1", preds)
    assert(kept < total)
    // the scan relation itself holds only the kept files — skipping
    // happened at PLAN time, not as a runtime row filter
    assert(scans.map(_.relation.location.inputFiles.length).sum === kept,
      s"scan must see exactly the $kept kept files of $total:\n$plan")
  }

  test("q230 forecast never windows: the fit is an in-row fold over grouped series") {
    // the Holt recurrence must run as an aggregate HOF over the collected
    // series array — a window formulation would sort PERIODS × SERIES rows
    // per step and break the q83/q146 already-grouped discipline
    val plan = executed(run("q230_holt_forecast"))
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"no WindowExec in the forecast plan:\n$plan")
    // orders is scanned once, reading only the three needed columns
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1, s"one orders scan expected:\n$plan")
    assert(scans.head.requiredSchema.fieldNames.toSet ===
      Set("o_orderpriority", "o_orderdate", "o_totalprice"))
  }

  test("media near-dup candidate joins are equi-joins — never nested-loop/cartesian") {
    // The scale contract of every near-dup path: candidates come from a
    // bucket EQUI-join (band/block/frame keys), and the exact verify is
    // a post-join filter. A refactor that turns any of these into a
    // nested-loop or cartesian join silently reintroduces all-pairs —
    // invisible at the gate SF, fatal at 10⁹ items. Checked over the
    // image banded join, the compound-block join, the audio
    // (frame, bin) join, and the video (frame, bucket) join.
    def assertEqui(name: String, plan: SparkPlan): Unit = {
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name must not nested-loop join:\n$plan")
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }.isEmpty, s"$name must not cartesian join:\n$plan")
    }
    Seq("q249_phash_neardup", "q251_phash_neardup_blocked",
      "q253_audio_neardup", "q255_video_neardup",
      "q262_video_bundle_search", "q264_video_neardup_bigram",
      "q265_video_neardup_keyframe").foreach { name =>
      assertEqui(name, executed(run(name)))
    }
    // round-17 SQL surfaces: the CDC feed's per-step generators are
    // pruned manifest scans + broadcast semi-joins (the q266 aggregate
    // plans THROUGH the changelog relation, so its joins are in this
    // plan), and MERGE INTO's kept/insert sides are equi-joins on the
    // ON keys — none may degrade to nested-loop/cartesian (a changelog
    // over a wide window or a merge against a large source would go
    // all-pairs). q267's own output plan is post-commit (scan+agg), so
    // the merge join shape is locked on MergeSql.planOnly directly.
    assertEqui("q266_table_changes_sql", executed(run("q266_table_changes_sql")))
    locally {
      import graft.engine.MergeSql
      import spark.implicits._
      val t = "pq_merge_t_" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
      val u = "pq_merge_u_" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.saveAsTable(t)
      Seq((2L, "B"), (3L, "c")).toDF("id", "v").write.saveAsTable(u)
      val merged = MergeSql.planOnly(spark,
        s"""MERGE INTO $t AS t USING $u AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      assertEqui("merge_into(planOnly)", executed(merged))
      spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE $u")
    }
    // q257/q259's CC stage localCheckpoints its edge inputs (lineage
    // truncated — asserting on the query's own plan would be VACUOUS
    // for the edge generators), so the cross-modal EDGE plans are
    // asserted directly, pre-checkpoint — for q259 over all four
    // modality generators unioned.
    locally {
      import graft.ext.{AudioFingerprint, CrossModalDedup, Dedup, ImageHash, Multimodal}
      val docs = Tables.load(spark, sf0001, "documents")
        .where(col("doc_id") < 96)
      val ids = docs.select(col("doc_id"))
      val textEdges = Dedup.minHashLshPairs(docs, "doc_id", "text",
        threshold = 0.8, shingleK = 3, numHashes = 128, bands = 32)
        .select("id_a", "id_b")
      val imageEdges = CrossModalDedup.imageEdges(spark,
        ImageHash.synthesizePatterned(spark, ids, "doc_id"), "media_id",
        maxDist = 7)
      val audioEdges = CrossModalDedup.audioEdges(spark,
        AudioFingerprint.synthesizeTones(spark,
          ids.where(col("doc_id") < 24), "doc_id"), "media_id", minShared = 20)
      val videoEdges = CrossModalDedup.videoEdges(spark,
        Multimodal.synthesizeAvi(spark,
          ids.where(col("doc_id") < 24), "doc_id"), "media_id", minShared = 2)
      assertEqui("q257/q259 edges",
        executed(Seq(textEdges, imageEdges, audioEdges, videoEdges)
          .reduce(_ unionByName _).distinct()))
    }
  }
}
