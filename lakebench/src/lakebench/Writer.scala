package lakebench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.engine.{FileIO, Layout, Manifests}

/** The write lifecycle of a versioned table from one closed-loop wire
  * client: rounds of INSERT…SELECT, UPDATE, DELETE, MERGE, CREATE TAG, a
  * tag read, a `$snapshots` read and a current-state aggregate, with the
  * oldest tag dropped every round and `expire_snapshots` every fourth
  * round so history and storage level off. A shadow model of the table
  * in the driver (order key → price in cents) checks every aggregate and
  * every tag read. The table is a CTAS copy of `demo.tpch_orders`. */
final class Writer(ctx: Ctx, input: Path) {
  import ctx._

  private val Cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
  val Writes = Set("insert", "update", "delete", "merge")
  val Reads = Set("tag_read", "snapshots", "current_read")
  /** Each kind's share of the writer's nominal traffic: once a round,
    * the expiry every fourth. */
  val kindShare: Map[String, Double] = {
    val perRound = (Writes ++ Reads ++ Seq("tag", "drop_tag")).map(_ -> 1.0).toMap + ("expire" -> 0.25)
    perRound.map { case (k, v) => k -> v / perRound.values.sum }
  }
  private val KeyStride = 1000000L // inserted keys are source key + round * stride

  private var rawCust: Array[Long] = Array.empty
  private var rawCents: Array[Long] = Array.empty
  private val shadow = mutable.LongMap.empty[Long]
  private val tagState = mutable.Map.empty[String, (Long, Long)]
  private var table = ""
  private var round = 0
  private val rng = new scala.util.Random(opts.seed * 1000 + 5)

  private def cust(k: Long): Long = rawCust((k % KeyStride).toInt)
  private def state(): (Long, Long) = (shadow.size.toLong, shadow.valuesIterator.sum)
  private def root: Path = Manifests.root(spark, table)

  /** One statement of a round: its SQL, the shadow update it implies
    * (`apply` returns the number of rows it changes) and the check of its
    * answer. */
  final case class Step(kind: String, sql: String, apply: () => Long,
      check: Vector[Vector[Any]] => Option[String])

  private val noCheck: Vector[Vector[Any]] => Option[String] = _ => None

  private def expectState(what: String, exp: (Long, Long))(rows: Vector[Vector[Any]]): Option[String] = {
    val (n, cents) = if (opts.breakCheck) (exp._1, exp._2 + 1) else exp
    rows match {
      case Vector(Vector(gn: Long, gc: Long)) if gn == n && gc == cents => None
      case _ => Some(s"$what: got ${rows.map(_.mkString("|")).mkString(";")} expected $n|$cents")
    }
  }

  private val countSql = """SELECT COUNT(*) AS "n", SUM(CAST(ROUND("o_totalprice" * 100) AS BIGINT)) AS "cents" FROM """

  private def roundSteps(): Seq[Step] = {
    round += 1
    val r = round
    val (a, b, c, d) = (rng.nextInt(300), rng.nextInt(200), rng.nextInt(300), rng.nextInt(500))
    val off = KeyStride * r
    val tag = s"r$r"
    // the tag read picks one of the three newest tags; the oldest beyond
    // those is dropped at the end of the round
    val tags = (tagState.keys.toSeq.map(_.drop(1).toInt) :+ r).sorted
    val newest = tags.takeRight(3)
    val readTag = s"r${newest(rng.nextInt(newest.size))}"
    val snapTable = "\"" + table + "$snapshots\""
    Seq(
      Step("insert", s"INSERT INTO $table SELECT o_orderkey + $off AS o_orderkey, o_custkey, o_orderstatus, " +
        s"o_totalprice, o_orderdate, o_orderpriority FROM demo.tpch_orders WHERE o_orderkey % 300 = $a",
        () => {
          var n = 0L
          for (k <- 1 until rawCents.length if k % 300 == a) { shadow(k + off) = rawCents(k); n += 1 }
          n
        }, noCheck),
      Step("update", s"UPDATE $table SET o_totalprice = o_totalprice + 1.25 WHERE o_custkey % 200 = $b",
        () => {
          val hit = shadow.keysIterator.filter(k => cust(k) % 200 == b).toSeq
          hit.foreach(k => shadow(k) = shadow(k) + 125)
          hit.size.toLong
        }, noCheck),
      Step("delete", s"DELETE FROM $table WHERE o_orderkey % 300 = $c",
        () => {
          val hit = shadow.keysIterator.filter(_ % 300 == c).toSeq
          hit.foreach(shadow.remove)
          hit.size.toLong
        }, noCheck),
      Step("merge", s"MERGE INTO $table AS t USING (SELECT $Cols FROM demo.tpch_orders " +
        s"WHERE o_orderkey % 500 = $d) AS s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice + 2.5 " +
        s"WHEN NOT MATCHED THEN INSERT ($Cols) VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, " +
        "s.o_totalprice, s.o_orderdate, s.o_orderpriority)",
        () => {
          var n = 0L
          for (k <- 1 until rawCents.length if k % 500 == d) {
            shadow(k.toLong) = if (shadow.contains(k.toLong)) rawCents(k) + 250 else rawCents(k); n += 1
          }
          n
        }, noCheck),
      Step("tag", s"ALTER TABLE $table CREATE TAG $tag", () => { tagState(tag) = state(); 0L }, noCheck),
      Step("tag_read", s"$countSql$table FOR VERSION AS OF '$readTag'", () => 0L,
        rows => expectState(s"tag $readTag", tagState(readTag))(rows)),
      Step("snapshots", s"""SELECT "snapshot_id", "operation" FROM $snapTable ORDER BY "snapshot_id" DESC LIMIT 5""",
        () => 0L,
        rows => {
          val head = Manifests.loadRefs(root).head
          if (rows.headOption.flatMap(_.headOption).contains(head)) None
          else Some(s"snapshots: newest ${rows.headOption.map(_.mkString("|"))}, refs head $head")
        }),
      Step("current_read", s"$countSql$table", () => 0L, rows => expectState("current state", state())(rows))
    ) ++ (if (tags.size > 3) Seq(Step("drop_tag", s"ALTER TABLE $table DROP TAG r${tags.head}",
        () => { tagState.remove(s"r${tags.head}"); 0L }, noCheck)) else Nil) ++
      (if (r % 4 == 0) Seq(Step("expire",
        s"ALTER TABLE $table EXECUTE expire_snapshots(retention_threshold => '0s')", () => 0L, noCheck))
      else Nil)
  }

  final case class Obs(kind: String, ms: Double, requests: Int, bytes: Long)

  /** Sends one step over the wire, applies it to the shadow model when it
    * succeeds and checks its answer. */
  private def wireStep(client: TrinoClient, s: Step): Option[Obs] = {
    attempted.incrementAndGet()
    val r = tracer.span("stmt.wire", stmtIds.incrementAndGet())(client.run(s.sql))
    if (!r.ok) { failure(s"${r.error.getOrElse(r.state)}: ${s.sql.take(160)}"); None }
    else {
      s.apply()
      s.check(r.rows).foreach(mismatch)
      Some(Obs(s.kind, r.ms, r.requests, r.responseBytes))
    }
  }

  /** Loads the source's keys, customers and prices into the driver. */
  def loadSource(): Unit = {
    val raw = spark.read.parquet(input.resolve("tpch_orders").toString)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).collect()
    rawCust = new Array[Long](raw.length + 1)
    rawCents = new Array[Long](raw.length + 1)
    raw.foreach { r =>
      val k = r.getLong(0).toInt
      rawCust(k) = r.getLong(1); rawCents(k) = math.round(r.getDouble(2) * 100)
    }
  }

  /** One set-up: a fresh CTAS copy of the source; the last copy is the
    * table the rounds write to. */
  def tableName(i: Int): String = s"dml_orders_$i"
  def setupRep(client: TrinoClient, i: Int): Unit = {
    table = s"demo.${tableName(i)}"
    attempted.incrementAndGet()
    val r = client.run(s"CREATE TABLE $table AS SELECT $Cols FROM demo.tpch_orders")
    if (!r.ok) failure(s"CTAS: ${r.error}")
    shadow.clear()
    for (k <- 1 until rawCents.length) shadow(k.toLong) = rawCents(k)
    tagState.clear()
    round = 0
  }

  /** Warm-up: three rounds, the tag retention, so every measured round
    * drops a tag and the first measured round (the fourth) expires
    * snapshots: each kind of the round shows in every run however many
    * rounds fit in the window. */
  def warmUp(client: TrinoClient): Unit = (1 to 3).foreach(_ => roundSteps().foreach(wireStep(client, _)))

  /** Whole rounds over the wire until the deadline: the round in flight
    * at the deadline completes, so every run ends at the same point of
    * the tag cycle (the head is the newest tag's snapshot). */
  def wireLeg(client: TrinoClient, seconds: Double): (Seq[Obs], Double) = {
    val out = Seq.newBuilder[Obs]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) roundSteps().foreach(s => out ++= wireStep(client, s))
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }

  /** After the window: one more checked aggregate and an expiry, so the
    * storage figure is taken with the full tag retention (three) and no
    * expired snapshot in every run. Returns the table's bytes on disk
    * (data and metadata) and the bytes of one fresh write of its live
    * rows. */
  def finish(client: TrinoClient): (Long, Long) = {
    wireStep(client, Step("current_read", s"$countSql$table", () => 0L, expectState("final state", state())))
    wireStep(client, Step("expire",
      s"ALTER TABLE $table EXECUTE expire_snapshots(retention_threshold => '0s')", () => 0L, noCheck))
    (tableDirs().map(bytesUnder).sum, freshBytes())
  }

  /** Commit-layer I/O timing: wraps the manifest store's FileIO, the
    * public hook the engine exposes for swapping storage backends. */
  private val ioNanos = new AtomicLong
  private final class TimedIO(inner: FileIO) extends FileIO {
    private def t[T](f: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span("commit.io", tracer.open.map(_.stmt).getOrElse(0L))(f)
      finally ioNanos.addAndGet(System.nanoTime() - t0)
    }
    def readBytes(path: Path): Option[Array[Byte]] = t(inner.readBytes(path))
    def writeAtomic(path: Path, bytes: Array[Byte]): Unit = t(inner.writeAtomic(path, bytes))
    def putIfMatch(path: Path, expected: Option[Array[Byte]], bytes: Array[Byte]): Boolean =
      t(inner.putIfMatch(path, expected, bytes))
    def deleteIfExists(path: Path): Unit = t(inner.deleteIfExists(path))
  }

  private def tableDirs(): Seq[Path] = {
    val loc = Paths.get(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location)
    if (loc.startsWith(root)) Seq(root) else Seq(root, loc)
  }

  /** Bytes of one fresh write of the table's live rows. */
  private def freshBytes(): Long = {
    val out = ctx.dir("fresh").resolve(s"dml_r$round")
    Layout.readCurrent(spark, table).write.parquet(out.toString)
    bytesUnder(out)
  }

  /** Traced rounds for `seconds`: reads run once over the wire and once
    * in process, writes once, in process, at their place in the
    * sequence. Returns the wire and in-process read observations, the
    * commit, manifest and scan metrics, and the number of statements
    * run. */
  def tracedLeg(client: TrinoClient, seconds: Double)
      : (Seq[Obs], Seq[(String, InProcess.Res)], Map[String, Double], Int) = {
    Manifests.io = new TimedIO(Manifests.io)
    val bytesPerRow = freshBytes().toDouble / math.max(shadow.size, 1)
    val wire = Seq.newBuilder[Obs]
    val inproc = Seq.newBuilder[(String, InProcess.Res)]
    val commits = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val ioMs, files, perChanged, listMs, filesRead = Seq.newBuilder[Double]
    var statements = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      roundSteps().foreach { s =>
        statements += (if (Reads(s.kind)) 2 else 1)
        if (Reads(s.kind)) wire ++= wireStep(client, s)
        val before = tableDirs().flatMap(filesUnder).toSet
        val io0 = ioNanos.get
        attempted.incrementAndGet()
        try {
          val r = InProcess.run(ctx, s.sql, stmtIds.incrementAndGet())
          if (Reads(s.kind)) {
            s.check(r.rows).foreach(m => mismatch(s"in process $m"))
            inproc += (s.kind -> r)
            if (s.kind == "tag_read") {
              val tag = "'(r\\d+)'".r.findFirstMatchIn(s.sql).get.group(1)
              filesRead += Layout.scanAtFileCounts(spark, table, tag, Nil)._2.toDouble
            }
          } else {
            val changed = s.apply()
            if (Writes(s.kind)) {
              commits(s.kind) :+= r.ms
              ioMs += (ioNanos.get - io0) / 1e6
              val added = tableDirs().flatMap(filesUnder).toSet -- before
              files += added.size.toDouble
              perChanged += added.toSeq.map(f => Files.size(Paths.get(f))).sum /
                math.max(changed * bytesPerRow, 1.0)
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) => failure(s"in process ${e.getMessage}: ${s.sql.take(160)}")
        }
      }
      val tl = System.nanoTime()
      Manifests.loadRefs(root); Manifests.listSnapshots(root)
      listMs += (System.nanoTime() - tl) / 1e6
    }
    val layer = Map(
      "commit.insert_ms" -> Stats.mean(commits("insert")),
      "commit.update_ms" -> Stats.mean(commits("update")),
      "commit.delete_ms" -> Stats.mean(commits("delete")),
      "commit.merge_ms" -> Stats.mean(commits("merge")),
      "commit.io_ms" -> Stats.mean(ioMs.result()),
      "commit.files_written" -> Stats.mean(files.result()),
      "commit.bytes_per_changed_byte" -> Stats.mean(perChanged.result()),
      "manifest.snapshots" -> Manifests.listSnapshots(root).size.toDouble,
      "manifest.list_ms" -> Stats.mean(listMs.result()),
      "scan.files_read" -> Stats.mean(filesRead.result()))
    (wire.result(), inproc.result(), layer, statements)
  }
}
