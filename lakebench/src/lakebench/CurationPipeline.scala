package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Clustering, Curate, Dedup, Splits}

/** The training-data curation pipeline, in process: `Curate.curate`
  * (near-dup collapse, per-language budget), `Curate.leakageSafeSplit`
  * over the whole corpus, and `Splits.temperatureMix` over the curated
  * train docs. One pass is one operation. No wire, routing or commit:
  * the `ext` operators and Spark scheduling are what this measures. */
final class CurationPipeline(ctx: Ctx) {
  import ctx._

  private val sizes = Data.sizes(opts.scale)
  private val path = ctx.dir("input").resolve("documents").toString
  private val Threshold = 0.8
  private val Weights = Seq("train" -> 8, "val" -> 1, "test" -> 1)

  private val (rows, dupPairs) = Data.documents(opts.seed, sizes.documents)
  private val inputIds = rows.map(_._1).toSet
  /** Half of each language's characters. */
  private val budgets: Map[String, Long] =
    rows.groupBy(_._3).map { case (lang, rs) => lang -> rs.map(_._5).sum / 2 }

  final case class Pass(ms: Double, curateS: Double, splitS: Double, mixS: Double,
      kept: Seq[(Long, String, Long, Double)], split: Map[Long, String], mixed: Seq[Long],
      train: Set[Long], total: Long)

  private def secs[T](name: String, f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name, 0L)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def docs(): DataFrame = spark.read.parquet(path)

  /** One pass; results are collected to the driver for the checks. */
  private def pass(d: DataFrame = docs()): Pass = {
    val t0 = System.nanoTime()
    var cached = Seq.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached :+= df; df.cache() }
    try {
      val ((curated, kept), curateS) = secs("ext.curate", {
        val c = keep(Curate.curate(d, "doc_id", "text", "lang", "n_chars", Threshold, budgets))
        c -> c.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      })
      val ((split, splitRows), splitS) = secs("ext.split", {
        val s = keep(Curate.leakageSafeSplit(d, "doc_id", "text", Threshold, Weights))
        s -> s.select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      })
      val trainIds = kept.map(_._1).toSet.intersect(splitRows.filter(_._2 == "train").map(_._1).toSet)
      val total = trainIds.size / 2L
      val (mixed, mixS) = secs("ext.mix", {
        val train = curated.join(split.filter(col("split") === "train").select("doc_id"), Seq("doc_id"))
        Splits.temperatureMix(train, "lang", "doc_id", total, 0.7).collect().map(_.getLong(1)).toSeq
      })
      Pass((System.nanoTime() - t0) / 1e6, curateS, splitS, mixS, kept, splitRows.toMap, mixed, trainIds, total)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  private def check(p: Pass): Unit = {
    val ids = if (opts.breakCheck) inputIds - p.kept.head._1 else inputIds
    val out = Seq.newBuilder[String]
    val keptIds = p.kept.map(_._1)
    if (!keptIds.forall(ids)) out += "kept ids are not a subset of the input ids"
    if (keptIds.distinct.size != keptIds.size) out += "a doc is kept twice"
    p.kept.groupBy(_._2).foreach { case (lang, ks) =>
      val ordered = ks.sortBy(k => (-k._4, k._1))
      val budget = budgets.getOrElse(lang, -1L)
      if (budget < 0 || ordered.map(_._3).sum - ordered.last._3 >= budget)
        out += s"language $lang over its budget $budget"
    }
    if (budgets.keySet != p.kept.map(_._2).toSet) out += "a language kept nothing"
    val kept = keptIds.toSet
    dupPairs.find { case (a, b) => kept(a) && kept(b) }
      .foreach(pr => out += s"near-duplicates $pr both kept")
    if (p.split.keySet != inputIds) out += s"${p.split.size} docs split, expected ${inputIds.size}"
    if (!p.split.values.forall(Weights.map(_._1).toSet)) out += "unknown split label"
    dupPairs.find { case (a, b) => p.split.get(a) != p.split.get(b) }
      .foreach(pr => out += s"near-duplicates $pr in different splits")
    if (!p.mixed.forall(p.train)) out += "mixed doc outside the curated train split"
    if (p.mixed.size > p.total || p.mixed.distinct.size != p.mixed.size)
      out += s"mix of ${p.mixed.size} docs for a target of ${p.total}"
    out.result().foreach(mismatch)
  }

  private def timedPasses(seconds: Double): Seq[Pass] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[Pass]
    do {
      attempted.incrementAndGet()
      try out += pass()
      catch { case scala.util.control.NonFatal(e) => failure(s"pass: $e") }
    } while (System.nanoTime() < deadline)
    out.result()
  }

  def run(): Outcome = {
    import spark.implicits._
    val tGen = System.nanoTime()
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(cores).write.parquet(path)
    log(f"inputs generated in ${(System.nanoTime() - tGen) / 1e9}%.1f s")
    val repS = medianSetup(setupReps)(_ => docs().count())
    // warm-up, once: a pass over a tenth of the corpus (its answers are
    // not checked: the budgets are set for the whole corpus)
    val tWarm = System.nanoTime()
    pass(docs().filter(pmod(xxhash64(lit(opts.seed), col("doc_id")), lit(10)) === 0))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + repS + warmS
    log(f"set up: session $sessionS%.1f s, median repetition $repS%.1f s, warm-up pass $warmS%.1f s")
    if (!opts.trace) {
      val t0 = System.nanoTime()
      val passes = timedPasses(opts.seconds)
      val wall = (System.nanoTime() - t0) / 1e9
      val heapMb = gc.liveMb()
      log(s"measured ${passes.size} passes")
      passes.foreach(check)
      val ms = passes.map(_.ms)
      val bpub = bytesUnder(java.nio.file.Paths.get(path)).toDouble / {
        val out = ctx.dir("fresh").resolve("documents").toString
        docs().write.parquet(out); bytesUnder(java.nio.file.Paths.get(out))
      }
      Outcome(
        Seq(("setup_s", setupS, "s"), ("op_mean_ms", Stats.mean(ms), "ms"),
          ("op_p90_ms", Stats.pct(ms, 0.9), "ms"), ("ops_per_s", passes.size / wall, "1/s"),
          ("heap_live_mb", heapMb, "MB"), ("bytes_per_user_byte", bpub, "ratio")),
        Seq("docs_per_s" -> rows.size * passes.size / wall, "passes" -> passes.size.toDouble,
          "docs" -> rows.size.toDouble, "curate_s" -> Stats.median(passes.map(_.curateS)),
          "split_s" -> Stats.median(passes.map(_.splitS)), "mix_s" -> Stats.median(passes.map(_.mixS)),
          "kept" -> passes.head.kept.size.toDouble, "session_s" -> sessionS, "setup_rep_s" -> repS))
    } else {
      // an untraced pass on each side of the traced one, so JIT warm-up
      // does not favour either side of the tracing-overhead figure
      def counted(): Pass = { attempted.incrementAndGet(); pass() }
      val before = counted()
      tracer.enabled = true
      Counters.drain(spark)
      val c0 = counters.snapshot(); val gc0 = gc.gcMs()
      val p = counted()
      Counters.drain(spark)
      val d = Counters.diff(c0, counters.snapshot())
      val gcMs = gc.gcMs() - gc0
      tracer.enabled = false
      val after = counted()
      tracer.enabled = true
      // the pair and component stages, called on their own
      val pairs = Dedup.minHashLshPairs(docs(), "doc_id", "text", Threshold).cache()
      val (nPairs, pairsS) = secs("ext.pairs", pairs.count())
      val (_, ccS) = secs("ext.cc", Clustering.connectedComponents(pairs, "id_a", "id_b").count())
      pairs.unpersist()
      Seq(before, p, after).foreach(check)
      val plainMs = (before.ms + after.ms) / 2
      val layer = Map(
        "ext.pairs_s" -> pairsS, "ext.cc_s" -> ccS, "ext.curate_s" -> p.curateS,
        "ext.split_s" -> p.splitS, "ext.mix_s" -> p.mixS, "ext.pairs" -> nPairs.toDouble,
        "route.temp_views" -> tempViews().toDouble,
        "jvm.gc_ms" -> gcMs.toDouble,
        "trace.overhead_pct" -> 100.0 * (p.ms - plainMs) / math.max(plainMs, 1e-9)
      ) ++ Layers.spark(d, 1.0, p.ms / 1000.0, cores)
      Layers.writeTrace(ctx, layer)
      Outcome(Layers.metrics(layer),
        Seq("setup_s" -> setupS, "pass_ms" -> p.ms, "untraced_pass_ms" -> plainMs))
    }
  }
}
