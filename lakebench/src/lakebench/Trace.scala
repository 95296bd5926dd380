package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root; spans of one statement
  * share `stmt`. Times are epoch nanoseconds so that listener-derived
  * spans (Spark reports epoch milliseconds) line up with the benchmark's
  * own. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, stmt: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, it runs the body and records
  * nothing, so untraced runs pay one branch per call. A traced run
  * enables it after its untraced reference leg. */
final class Tracer {
  @volatile var enabled: Boolean = false
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  private val nanoOrigin = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def now(): Long = nanoOrigin + System.nanoTime()
  def nextId(): Long = ids.incrementAndGet()
  /** The innermost open span on this thread (its id and statement). */
  def open: Option[Span] = Option(current.get)

  def span[T](name: String, stmt: Long)(body: => T): T =
    if (!enabled) body
    else {
      val prev = current.get
      val id = nextId()
      val t0 = now()
      current.set(Span(id, name, t0, 0L, if (prev == null) 0L else prev.id, stmt))
      try body
      finally {
        spans.add(Span(id, name, t0, now(), if (prev == null) 0L else prev.id, stmt))
        current.set(prev)
      }
    }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  /** Self time per span: its duration minus the part of its interval
    * that its children cover (overlapping children are merged first). */
  def selfTimes(): Map[Long, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> ((s.end - s.start - covered) / 1e6)
    }.toMap
  }
}

/** Spark-side counters, fed by a `SparkListener` and a
  * `QueryExecutionListener` the benchmark registers. Jobs also become
  * spans: a job submitted while the driver thread had
  * `lakebench.stmt`/`lakebench.parent` local properties set is a child
  * of that span. */
final class Counters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val queryExecutions = new AtomicLong
  private val jobOpen = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
    jobOpen.put(e.jobId, (e.time * 1000000L, prop("lakebench.parent"), prop("lakebench.stmt")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOpen.remove(e.jobId)).foreach { case (t0, parent, stmt) =>
      tracer.record(Span(tracer.nextId(), "spark.job", t0, e.time * 1000000L, parent, stmt))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    queryExecutions.incrementAndGet()
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    queryExecutions.incrementAndGet()

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get, "query_executions" -> queryExecutions.get)
}

object Counters {
  def register(spark: SparkSession, tracer: Tracer): Counters = {
    val c = new Counters(tracer)
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** JVM-wide counters: total GC time, and the old generation's use right
  * after a full collection. */
final class GcMonitor {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old") || p.getName.contains("Tenured"))

  def gcMs(): Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Runs full collections and returns the bytes left live in the old
    * generation, in MB: what the engine retains, free of the timing of
    * young collections. Collections repeat until the figure stops
    * falling, because each one lets Spark's ContextCleaner find more
    * unreachable RDDs and broadcasts and drop their blocks. */
  def liveMb(): Double = {
    def collect(): Long = {
      System.gc()
      oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
        .getOrElse(Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory)
    }
    var last = collect()
    var next = { Thread.sleep(300); collect() }
    var rounds = 0
    while (last - next > (1L << 20) && rounds < 8) {
      last = next
      Thread.sleep(300)
      next = collect()
      rounds += 1
    }
    next / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile of weighted samples (value, weight): each sample sits at
    * the middle of its share of the total weight, and the percentile is
    * interpolated between neighbours, as [[pct]] does for equal weights. */
  def weightedPct(xs: Seq[(Double, Double)], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sortBy(_._1).toVector
      val total = s.map(_._2).sum
      val mids = s.map(_._2).scanLeft(0.0)(_ + _).zip(s).map { case (c, (_, w)) => (c + w / 2) / total }
      val i = mids.lastIndexWhere(_ <= q)
      if (i < 0) s.head._1
      else if (i == s.size - 1) s.last._1
      else s(i)._1 + (s(i + 1)._1 - s(i)._1) * (q - mids(i)) / (mids(i + 1) - mids(i))
    }

  /** Mean of samples tagged with their stratum, each stratum present
    * weighted by its nominal share. */
  def stratifiedMean(xs: Seq[(String, Double)], share: Map[String, Double]): Double = {
    val byKind = xs.groupBy(_._1).toSeq.map { case (k, v) => (share(k), mean(v.map(_._2))) }
    byKind.map { case (s, m) => s * m }.sum / byKind.map(_._1).sum
  }

  /** Percentile of samples tagged with their stratum (statement kind):
    * each stratum present carries its nominal share of the traffic,
    * split evenly among its samples, so the figure does not move with how
    * many of each kind happened to fit in the window. */
  def stratifiedPct(xs: Seq[(String, Double)], share: Map[String, Double], q: Double): Double = {
    val n = xs.groupBy(_._1).map { case (k, v) => k -> v.size }
    weightedPct(xs.map { case (k, v) => v -> share(k) / n(k) }, q)
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
