package lakebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options. `scale` 0.1 is the measured size; the smoke test
  * runs 0.001. `breakCheck` corrupts one expected answer so the smoke test
  * can show that the checks catch a wrong result. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, scale: Double, workDir: Path, traceOut: Option[Path],
    launchMs: Long, breakCheck: Boolean)

/** What every workload reports back to [[Main]]. `metrics` are
  * (name, value, unit); `detail` goes to the informational line. */
final case class Outcome(metrics: Seq[(String, Double, String)], detail: Seq[(String, Double)])

/** Shared run context handed to each workload. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
    val counters: Counters, val gc: GcMonitor, val sessionS: Double) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  def dir(name: String): Path = Files.createDirectories(opts.workDir.resolve(name))

  /** Operations attempted and failed, and check mismatches, over the run. */
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val mismatches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val stmtIds = new java.util.concurrent.atomic.AtomicLong
  def mismatch(m: String): Unit = mismatches.add(m)
  def failure(what: String): Unit = { failed.incrementAndGet(); log(s"FAILED $what") }
  def log(msg: String): Unit =
    System.err.println(f"[lakebench +${(System.currentTimeMillis() - opts.launchMs) / 1000.0}%.1fs] $msg")

  /** Runs `body` `n` times and returns the median duration in seconds. */
  def medianSetup(n: Int)(body: Int => Unit): Double =
    Stats.median((0 until n).map { i =>
      val t0 = System.nanoTime()
      body(i)
      (System.nanoTime() - t0) / 1e9
    })

  /** The number of set-up repetitions `setup_s` takes the median of. */
  val setupReps: Int = 3

  /** Session temp views left behind — statement routing registers them
    * and, apart from MERGE, never drops them. */
  def tempViews(): Int =
    spark.catalog.listTables().collect().count(_.isTemporary)

  /** Bytes of all regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def filesUnder(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else scala.util.Using.resource(Files.walk(p)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    }
}

object Main {

  val Workloads = Seq("lakehouse_wire", "curation_pipeline")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      scale = m.get("scale").map(_.toDouble).getOrElse(0.1),
      workDir = Paths.get(need("work-dir")).toAbsolutePath,
      traceOut = m.get("trace-out").map(Paths.get(_).toAbsolutePath),
      launchMs = m.get("launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      breakCheck = m.get("break-check").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder("lakebench", s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", opts.workDir.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", opts.workDir.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val counters = Counters.register(spark, tracer)
    val gc = new GcMonitor
    val sessionS = (System.currentTimeMillis() - opts.launchMs) / 1000.0
    val ctx = new Ctx(spark, opts, tracer, counters, gc, sessionS)
    val out =
      try opts.workload match {
        case "lakehouse_wire" => new LakehouseWire(ctx).run()
        case "curation_pipeline" => new CurationPipeline(ctx).run()
      } finally {
        ctx.log("workload done")
        spark.stop()
        ctx.log("session stopped")
      }
    val mismatches = ctx.mismatches.asScala.toSeq.distinct
    mismatches.take(20).foreach(m => ctx.log(s"MISMATCH $m"))
    println("lakebench detail " + Json.obj(out.detail.map { case (k, v) => k -> Json.num(v) }))
    val metrics = Json.obj(out.metrics.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    println(Json.obj(Seq(
      "correct" -> mismatches.isEmpty.toString,
      "attempted" -> ctx.attempted.get.toString,
      "failed" -> ctx.failed.get.toString,
      "metrics" -> metrics)))
  }
}
