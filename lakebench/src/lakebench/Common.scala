package lakebench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.engine.{Lakehouse, TrinoSql}

/** Result comparison. Values are normalised to the wire's cell types
  * (Long, Double, Boolean, String, null; timestamps as Trino's UTC
  * `yyyy-MM-dd HH:mm:ss.SSS` text); doubles match within a relative
  * 1e-6, which absorbs summation order and nothing a wrong answer does. */
object Check {
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)

  def norm(v: Any): Any = v match {
    case null => null
    case x: java.lang.Integer => x.longValue
    case x: java.lang.Short => x.longValue
    case x: java.lang.Float => x.doubleValue
    case x: java.sql.Timestamp => tsFmt.format(x.toInstant)
    case x: java.time.Instant => tsFmt.format(x)
    case x: java.math.BigDecimal => x.toPlainString
    case x => x
  }

  def rows(rs: Seq[Row]): Vector[Vector[Any]] =
    rs.map(r => (0 until r.length).map(i => norm(r.get(i))).toVector).toVector

  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Long, y: Double) => close(x.toDouble, y)
    case (x: Double, y: Long) => close(x, y.toDouble)
    case _ => a == b
  }

  private def key(r: Vector[Any]): String = r.map {
    case d: Double => f"$d%.4f"
    case x => String.valueOf(x)
  }.mkString("\u0001")

  /** None when equal; otherwise a short description of the difference.
    * Unordered results are compared after sorting both sides. */
  def diff(got: Vector[Vector[Any]], exp: Vector[Vector[Any]], ordered: Boolean): Option[String] = {
    val (g, e) = if (ordered) (got, exp) else (got.sortBy(key), exp.sortBy(key))
    if (g.size != e.size) Some(s"${g.size} rows, expected ${e.size}")
    else g.indices.find(i => g(i).size != e(i).size || g(i).zip(e(i)).exists { case (a, b) => !close(a, b) })
      .map(i => s"row $i: got ${g(i).mkString("|")} expected ${e(i).mkString("|")}")
  }
}

/** The in-process twin of a wire statement: the same calls StatementHttp
  * makes (`TrinoSql.toSpark`, `Lakehouse.sql`, `limit(maxRows + 1)
  * .collect()`), each wrapped in a span, with Spark jobs attributed to
  * the open span through local properties and the Catalyst phase times
  * read from the Datasets' planning trackers. */
object InProcess {
  final case class Res(stmt: Long, rows: Vector[Vector[Any]], ms: Double, dialectMs: Double,
      routeMs: Double, phases: Map[String, Double])

  private val MaxRows = 1000000 // StatementHttp.start's default bound

  def run(ctx: Ctx, sql: String, stmt: Long): Res = {
    val tr = ctx.tracer
    val sc = ctx.spark.sparkContext
    def attribute(): Unit = tr.open.foreach { s =>
      sc.setLocalProperty("lakebench.parent", s.id.toString)
      sc.setLocalProperty("lakebench.stmt", stmt.toString)
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
    }
    try {
      val (res, ms) = timed(tr.span("stmt.inproc", stmt) {
        val (mapped, dMs) = timed(tr.span("dialect", stmt)(TrinoSql.toSpark(sql)))
        val (df, rMs) = timed(tr.span("route", stmt) { attribute(); Lakehouse.sql(ctx.spark, mapped) })
        val lim = df.limit(MaxRows + 1)
        val rows = tr.span("exec", stmt) { attribute(); lim.collect() }
        def ph(t: org.apache.spark.sql.catalyst.QueryPlanningTracker, k: String) =
          t.phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        val a = df.queryExecution.tracker
        val b = lim.queryExecution.tracker
        val phases = Map(
          "parse" -> ph(a, "parsing"),
          "analysis" -> (ph(a, "analysis") + ph(b, "analysis")),
          "optimization" -> ph(b, "optimization"),
          "planning" -> ph(b, "planning"))
        Res(stmt, Check.rows(rows.toSeq), 0.0, dMs, rMs, phases)
      })
      res.copy(ms = ms)
    } finally {
      sc.setLocalProperty("lakebench.parent", null)
      sc.setLocalProperty("lakebench.stmt", null)
    }
  }
}

/** The per-layer metric set every traced run reports, with the unit of
  * each. A layer a workload does not use reports 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "wire.overhead_ms" -> "ms", "wire.wait_ms" -> "ms",
    "wire.requests_per_stmt" -> "count", "wire.response_kb" -> "kB",
    "dialect.ms" -> "ms", "route.ms" -> "ms", "route.self_ms" -> "ms",
    "route.temp_views" -> "count",
    "catalyst.parse_ms" -> "ms", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.query_executions" -> "count", "spark.core_util" -> "ratio",
    "commit.insert_ms" -> "ms", "commit.update_ms" -> "ms",
    "commit.delete_ms" -> "ms", "commit.merge_ms" -> "ms", "commit.io_ms" -> "ms",
    "commit.files_written" -> "count", "commit.bytes_per_changed_byte" -> "ratio",
    "manifest.snapshots" -> "count", "manifest.list_ms" -> "ms",
    "scan.files_read" -> "count",
    "ext.pairs_s" -> "s", "ext.cc_s" -> "s", "ext.curate_s" -> "s",
    "ext.split_s" -> "s", "ext.mix_s" -> "s", "ext.pairs" -> "count",
    "jvm.gc_ms" -> "ms", "trace.overhead_pct" -> "%")

  def metrics(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    Units.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  /** Spark counter deltas over a traced leg, per operation. */
  def spark(d: Map[String, Long], ops: Double, wallS: Double, cores: Int): Map[String, Double] = {
    val n = math.max(ops, 1.0)
    Map(
      "spark.jobs" -> d("jobs") / n, "spark.stages" -> d("stages") / n,
      "spark.tasks" -> d("tasks") / n, "spark.task_s" -> d("task_ms") / 1000.0 / n,
      "spark.shuffle_mb" -> d("shuffle_bytes") / 1048576.0 / n,
      "spark.spill_mb" -> d("spill_bytes") / 1048576.0 / n,
      "spark.query_executions" -> d("query_executions") / n,
      "spark.core_util" -> d("task_ms") / 1000.0 / math.max(wallS * cores, 1e-9))
  }

  /** Writes the spans, their self times, a per-name summary and the
    * per-layer metrics to the trace file. */
  def writeTrace(ctx: Ctx, layer: Map[String, Double]): Unit = ctx.opts.traceOut.foreach { out =>
    val spans = ctx.tracer.spans.asScala.toSeq.sortBy(_.start)
    val self = ctx.tracer.selfTimes()
    val summary = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      name -> Json.obj(Seq(
        "count" -> ss.size.toString,
        "total_ms" -> Json.num(ss.map(_.ms).sum),
        "self_ms" -> Json.num(ss.map(s => self(s.id)).sum),
        "p50_ms" -> Json.num(Stats.median(ss.map(_.ms)))))
    }
    val spanJson = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "start_ns" -> s.start.toString,
      "end_ns" -> s.end.toString, "parent" -> s.parent.toString, "stmt" -> s.stmt.toString,
      "self_ms" -> Json.num(self(s.id)))))
    val body = Json.obj(Seq(
      "workload" -> Json.str(ctx.opts.workload),
      "seed" -> ctx.opts.seed.toString,
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "counts" -> Json.obj(ctx.counters.snapshot().toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "summary" -> Json.obj(summary),
      "spans" -> Json.arr(spanJson)))
    Files.createDirectories(out.getParent)
    Files.write(out, body.getBytes("UTF-8"))
  }
}
