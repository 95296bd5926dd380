package lakebench

import graft.engine.StatementHttp

/** Users of the Trino wire front, in two phases of one run: `nproc`
  * closed-loop [[Dashboard]] clients send Superset chart SQL and
  * dataset-refresh introspection for the first half of the window, then
  * one [[Writer]] client runs the write lifecycle of a versioned table
  * alone for the second half, so its latency stays apart from the
  * dashboards' queueing. One operation is one statement.
  *
  * Set-up: seed.sh replayed over the wire, the analytic tables registered
  * and the writer's table copied with CTAS, three times (the median
  * counts), then one warm-up of every dashboard statement variant and
  * three writer rounds. */
final class LakehouseWire(ctx: Ctx) {
  import ctx._

  private val input = ctx.dir("input")
  private val writer = new Writer(ctx, input)
  private val dash = new Dashboard(ctx, input, (0 until setupReps).map(writer.tableName))

  private def p(xs: Seq[Double], q: Double) = Stats.pct(xs, q)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
  /** CPU time of the whole process, and of its JIT compiler threads, in ms. */
  private def cpuMs(): Double = osBean.getProcessCpuTime / 1e6
  private def jitMs(): Double = jitBean.getTotalCompilationTime.toDouble

  def run(): Outcome = {
    val tGen = System.nanoTime()
    dash.writeInputs()
    writer.loadSource()
    log(f"inputs generated in ${(System.nanoTime() - tGen) / 1e9}%.1f s")

    val tSrv = System.nanoTime()
    val server = StatementHttp.start(spark)
    val serverS = (System.nanoTime() - tSrv) / 1e9
    try {
      val setupClient = new TrinoClient(server.port, tracer, "seed")
      val writerClient = new TrinoClient(server.port, tracer, "etl")
      val repS = medianSetup(setupReps) { i =>
        dash.setupRep(setupClient)
        writer.setupRep(writerClient, i)
      }
      val tWarm = System.nanoTime()
      dash.warmUp(setupClient)
      writer.warmUp(writerClient)
      val warmS = (System.nanoTime() - tWarm) / 1e9
      val setupS = sessionS + serverS + repS + warmS
      log(f"set up: session $sessionS%.1f s, median repetition $repS%.1f s, warm-up $warmS%.1f s")

      if (!opts.trace) {
        val (cpu0, jit0) = (cpuMs(), jitMs())
        val (d, dWall) = dash.wireLeg(server.port, cores, opts.seconds / 2, salt = 1, wholeDecks = true)
        val (cpu1, jit1) = (cpuMs(), jitMs())
        val (w, wWall) = writer.wireLeg(writerClient, opts.seconds / 2)
        val (cpu2, jit2) = (cpuMs(), jitMs())
        val heapMb = gc.liveMb()
        log(s"measured ${d.size} dashboard and ${w.size} writer statements")
        dash.verify(d)
        val (seedDisk, seedFresh) = dash.storage()
        val (dmlDisk, dmlFresh) = writer.finish(writerClient)
        // The dashboards and the writer each carry half the weight, every
        // statement kind its nominal share of its half, so the figures do
        // not move with how many of each kind fit in the window. The mean
        // stands in for the median: the mix is bimodal (the writer's tag,
        // snapshot and count statements take a fifth of the others' time)
        // and its median falls in the gap between the modes.
        val strata = d.map(o => ("dashboard." + o.stmt.kind) -> o.ms) ++ w.map(o => ("writer." + o.kind) -> o.ms)
        val share = dash.kindShare.map { case (k, v) => ("dashboard." + k) -> v / 2 } ++
          writer.kindShare.map { case (k, v) => ("writer." + k) -> v / 2 }
        // the writer is one closed-loop client: its rate is the inverse of
        // its mean latency over a round of the nominal mix
        val writerRate = 1000 / Stats.stratifiedMean(w.map(o => o.kind -> o.ms), writer.kindShare)
        val reads = d.map(_.ms)
        val writes = w.filter(o => writer.Writes(o.kind)).map(_.ms)
        val writerReads = w.filter(o => writer.Reads(o.kind)).map(_.ms)
        val byKind = (d.map(o => o.stmt.kind -> o.ms) ++ w.map(o => o.kind -> o.ms))
          .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (k, os) =>
            Seq(s"$k.p50_ms" -> p(os.map(_._2), 0.5), s"$k.n" -> os.size.toDouble)
          }
        Outcome(
          Seq(("setup_s", setupS, "s"), ("op_mean_ms", Stats.stratifiedMean(strata, share), "ms"),
            ("op_p90_ms", Stats.stratifiedPct(strata, share, 0.9), "ms"),
            ("ops_per_s", (d.size / dWall + writerRate) / 2, "1/s"),
            ("heap_live_mb", heapMb, "MB"),
            ("bytes_per_user_byte", (seedDisk + dmlDisk).toDouble / math.max(seedFresh + dmlFresh, 1L), "ratio")),
          Seq("read_p50_ms" -> p(reads, 0.5), "read_p90_ms" -> p(reads, 0.9),
            "write_p50_ms" -> p(writes, 0.5), "write_p90_ms" -> p(writes, 0.9),
            "writer_read_p50_ms" -> p(writerReads, 0.5),
            "dashboard_stmt_per_s" -> d.size / dWall, "writer_stmt_per_s" -> w.size / wWall,
            "dashboard_cpu_ms_per_stmt" -> (cpu1 - cpu0) / d.size, "writer_cpu_ms_per_stmt" -> (cpu2 - cpu1) / w.size,
            "dashboard_jit_share" -> (jit1 - jit0) / (cpu1 - cpu0), "writer_jit_share" -> (jit2 - jit1) / (cpu2 - cpu1),
            "samples" -> (d.size + w.size).toDouble, "writes" -> writes.size.toDouble,
            "dml_bytes_per_user_byte" -> dmlDisk.toDouble / math.max(dmlFresh, 1L),
            "session_s" -> sessionS, "setup_rep_s" -> repS, "warmup_s" -> warmS) ++ byKind)
      } else traced(server.port, writerClient, setupS)
    } finally server.stop()
  }

  /** The dashboards with `nproc` clients, untraced and traced in turn
    * (twice each, `seconds / 8` a leg, so JIT warm-up does not favour
    * either side of the tracing-overhead figure); then, traced, the
    * dashboards with one client and in process on one thread
    * (`seconds / 4` each), and for `seconds / 2` the writer's rounds with
    * each read once over the wire and once in process and each write
    * once, in process. */
  private def traced(port: Int, writerClient: TrinoClient, setupS: Double): Outcome = {
    val leg = opts.seconds / 4
    val (plainB, manyB) = (Seq.newBuilder[dash.Obs], Seq.newBuilder[dash.Obs])
    for (i <- 0 until 2) {
      tracer.enabled = false
      plainB ++= dash.wireLeg(port, cores, leg / 2, salt = 1 + i)._1
      tracer.enabled = true
      manyB ++= dash.wireLeg(port, cores, leg / 2, salt = 3 + i)._1
    }
    val (plain, many) = (plainB.result(), manyB.result())
    val (one, _) = dash.wireLeg(port, 1, leg, salt = 5)
    Counters.drain(spark)
    val c0 = counters.snapshot()
    val gc0 = gc.gcMs()
    val t0 = System.nanoTime()
    val (inproc, _) = dash.inProcessLeg(leg)
    val (wWire, wInproc, commit, wStatements) = writer.tracedLeg(writerClient, 2 * leg)
    val wall = (System.nanoTime() - t0) / 1e9
    Counters.drain(spark)
    val d = Counters.diff(c0, counters.snapshot())
    val gcMs = gc.gcMs() - gc0
    dash.verify(plain ++ one ++ many ++ inproc.map(_._1))

    def kindP50(xs: Seq[(String, Double)]) = xs.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    def meanDiff(a: Map[String, Double], b: Map[String, Double]) =
      Stats.mean(a.keySet.intersect(b.keySet).toSeq.map(k => a(k) - b(k)))
    val k1 = kindP50(one.map(o => o.stmt.kind -> o.ms) ++ wWire.map(o => o.kind -> o.ms))
    val kn = kindP50(many.map(o => o.stmt.kind -> o.ms))
    val kin = kindP50(inproc.map(x => x._1.stmt.kind -> x._2.ms) ++ wInproc.map(x => x._1 -> x._2.ms))
    val ip = inproc.map(_._2) ++ wInproc.map(_._2)
    val n = (inproc.size + wStatements).toDouble
    val self = tracer.selfTimes()
    val readIds = ip.map(_.stmt).toSet
    val routeSelf = tracer.spans.toArray(Array.empty[Span])
      .filter(s => s.name == "route" && readIds(s.stmt)).map(s => self(s.id)).toSeq
    val plainP50 = p(plain.map(_.ms), 0.5)
    val tracedP50 = p(many.map(_.ms), 0.5)
    val wireReqs = one.map(o => (o.requests, o.bytes)) ++ wWire.map(o => (o.requests, o.bytes))
    val layer = Map(
      "wire.overhead_ms" -> meanDiff(k1, kin),
      "wire.wait_ms" -> meanDiff(kn, k1),
      "wire.requests_per_stmt" -> Stats.mean(wireReqs.map(_._1.toDouble)),
      "wire.response_kb" -> Stats.mean(wireReqs.map(_._2 / 1024.0)),
      "dialect.ms" -> Stats.mean(ip.map(_.dialectMs)),
      "route.ms" -> Stats.mean(ip.map(_.routeMs)),
      "route.self_ms" -> Stats.mean(routeSelf),
      "route.temp_views" -> tempViews().toDouble,
      "catalyst.parse_ms" -> Stats.mean(ip.map(_.phases("parse"))),
      "catalyst.analysis_ms" -> Stats.mean(ip.map(_.phases("analysis"))),
      "catalyst.optimization_ms" -> Stats.mean(ip.map(_.phases("optimization"))),
      "catalyst.planning_ms" -> Stats.mean(ip.map(_.phases("planning"))),
      "jvm.gc_ms" -> gcMs / math.max(n, 1.0),
      "trace.overhead_pct" -> 100.0 * (tracedP50 - plainP50) / math.max(plainP50, 1e-9)
    ) ++ commit ++ Layers.spark(d, n, wall, cores) // per statement of the last two legs
    Layers.writeTrace(ctx, layer)
    Outcome(Layers.metrics(layer),
      Seq("setup_s" -> setupS, "untraced_read_p50_ms" -> plainP50, "traced_read_p50_ms" -> tracedP50,
        "one_client_read_p50_ms" -> p(one.map(_.ms), 0.5),
        "in_process_read_p50_ms" -> p(inproc.map(_._2.ms), 0.5), "in_process_n" -> n))
  }
}
