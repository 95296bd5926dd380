package lakebench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Lakehouse

/** Superset traffic over the Trino wire: chart SQL of the reference's
  * dashboard shapes plus the dataset-refresh introspection, sent by
  * closed-loop clients. Every answer is checked against the same answer
  * computed with the DataFrame API over the raw parquet the tables are
  * registered on. `otherTables` are the names other clients create in
  * `demo`, which the table listing must show too. */
final class Dashboard(ctx: Ctx, input: Path, otherTables: Seq[String]) {
  import ctx._

  private val sizes = Data.sizes(opts.scale)
  private def raw(t: String): DataFrame = spark.read.parquet(input.resolve(t).toString)

  private val Analytic = Seq("lineitem", "tpch_orders", "customer", "nation", "event_log")
  private val SeedCounts = Seq("events" -> 200L, "users" -> 50L, "orders" -> 150L,
    "products" -> 20L, "transactions" -> 300L)
  private val SeedColumns = Map(
    "events" -> Seq("id" -> "bigint", "ts" -> "timestamp(3)", "event_type" -> "varchar",
      "payload" -> "varchar", "user_id" -> "bigint", "amount" -> "double"),
    "users" -> Seq("user_id" -> "bigint", "username" -> "varchar", "email" -> "varchar",
      "created_at" -> "timestamp(3)", "country" -> "varchar", "active" -> "boolean"),
    "orders" -> Seq("order_id" -> "bigint", "user_id" -> "bigint", "product_id" -> "bigint",
      "quantity" -> "integer", "price" -> "double", "order_date" -> "timestamp(3)",
      "status" -> "varchar"),
    "products" -> Seq("product_id" -> "bigint", "name" -> "varchar", "category" -> "varchar",
      "price" -> "double", "stock" -> "integer", "created_at" -> "timestamp(3)"),
    "transactions" -> Seq("transaction_id" -> "bigint", "user_id" -> "bigint",
      "amount" -> "double", "currency" -> "varchar", "transaction_type" -> "varchar",
      "timestamp" -> "timestamp(3)", "status" -> "varchar"))

  /** seed.sh's statement sequence as the Trino CLI posts it. */
  private val SeedSql: Seq[String] = Seq(
    "SELECT 1",
    "SHOW CATALOGS",
    "CREATE SCHEMA IF NOT EXISTS iceberg.demo WITH (location='s3://warehouse/demo/')",
    "DROP TABLE IF EXISTS iceberg.demo.events",
    "CREATE TABLE iceberg.demo.events (id bigint, ts timestamp, event_type varchar, payload varchar, user_id bigint, amount double)",
    "INSERT INTO iceberg.demo.events SELECT n AS id, current_timestamp - INTERVAL '1' DAY * (n % 30), CASE (n % 5) WHEN 0 THEN 'click' WHEN 1 THEN 'purchase' WHEN 2 THEN 'view' WHEN 3 THEN 'login' ELSE 'logout' END, 'Event ' || CAST(n AS varchar), (n % 50) + 1, (n * 10.5) + 100.0 FROM UNNEST(sequence(1, 200)) AS t(n)",
    "DROP TABLE IF EXISTS iceberg.demo.users",
    "CREATE TABLE iceberg.demo.users (user_id bigint, username varchar, email varchar, created_at timestamp, country varchar, active boolean)",
    "INSERT INTO iceberg.demo.users SELECT n AS user_id, 'user' || CAST(n AS varchar), 'user' || CAST(n AS varchar) || '@example.com', current_timestamp - INTERVAL '1' DAY * (n % 90), CASE (n % 10) WHEN 0 THEN 'US' WHEN 1 THEN 'UK' WHEN 2 THEN 'DE' WHEN 3 THEN 'FR' WHEN 4 THEN 'CA' WHEN 5 THEN 'AU' WHEN 6 THEN 'JP' WHEN 7 THEN 'BR' WHEN 8 THEN 'IN' ELSE 'MX' END, n % 3 != 0 FROM UNNEST(sequence(1, 50)) AS t(n)",
    "DROP TABLE IF EXISTS iceberg.demo.orders",
    "CREATE TABLE iceberg.demo.orders (order_id bigint, user_id bigint, product_id bigint, quantity integer, price double, order_date timestamp, status varchar)",
    "INSERT INTO iceberg.demo.orders SELECT n AS order_id, (n % 50) + 1, (n % 20) + 1, (n % 5) + 1, (n * 15.75) + 50.0, current_timestamp - INTERVAL '1' DAY * (n % 60), CASE (n % 4) WHEN 0 THEN 'completed' WHEN 1 THEN 'pending' WHEN 2 THEN 'shipped' ELSE 'cancelled' END FROM UNNEST(sequence(1, 150)) AS t(n)",
    "DROP TABLE IF EXISTS iceberg.demo.products",
    "CREATE TABLE iceberg.demo.products (product_id bigint, name varchar, category varchar, price double, stock integer, created_at timestamp)",
    "INSERT INTO iceberg.demo.products SELECT n AS product_id, 'Product ' || CAST(n AS varchar), CASE (n % 5) WHEN 0 THEN 'Electronics' WHEN 1 THEN 'Clothing' WHEN 2 THEN 'Books' WHEN 3 THEN 'Home' ELSE 'Sports' END, (n * 25.50) + 10.0, (n * 10) + 50, current_timestamp - INTERVAL '1' DAY * n FROM UNNEST(sequence(1, 20)) AS t(n)",
    "DROP TABLE IF EXISTS iceberg.demo.transactions",
    "CREATE TABLE iceberg.demo.transactions (transaction_id bigint, user_id bigint, amount double, currency varchar, transaction_type varchar, timestamp timestamp, status varchar)",
    "INSERT INTO iceberg.demo.transactions SELECT n AS transaction_id, (n % 50) + 1, (n * 12.34) + 5.0, CASE (n % 3) WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END, CASE (n % 3) WHEN 0 THEN 'payment' WHEN 1 THEN 'refund' ELSE 'transfer' END, current_timestamp - INTERVAL '1' HOUR * (n % 720), CASE (n % 10) WHEN 0 THEN 'failed' ELSE 'success' END FROM UNNEST(sequence(1, 300)) AS t(n)")

  /** One statement the dashboard can send, with the way to compute its
    * expected answer. */
  final case class Stmt(kind: String, sql: String, ordered: Boolean, expected: () => Vector[Vector[Any]])

  /** One completed statement. */
  final case class Obs(stmt: Stmt, ms: Double, ok: Boolean, rows: Vector[Vector[Any]],
      requests: Int, bytes: Long)

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s.replace(' ', 'T') + "Z"))
  private def tbl(t: String) = s""""iceberg"."demo"."$t""""

  private def trinoType(dt: DataType): String = dt match {
    case LongType => "bigint"
    case IntegerType => "integer"
    case DoubleType => "double"
    case StringType => "varchar"
    case BooleanType => "boolean"
    case _: TimestampType => "timestamp(3)"
    case other => other.simpleString
  }

  private def expect(df: => DataFrame): () => Vector[Vector[Any]] = () => Check.rows(df.collect().toSeq)

  /** The seed picks a few literal variants per chart kind; clients draw
    * from these, so every distinct statement is checked once. */
  val stmts: Map[String, Vector[Stmt]] = statements()

  private def statements(): Map[String, Vector[Stmt]] = {
    val r = new scala.util.Random(opts.seed * 31 + 7)
    def pickN[T](xs: Seq[T], n: Int): Seq[T] = r.shuffle(xs).take(n)
    // literals vary what is selected, not how much: every filter is a
    // one-year window (or an equal-sized category), so seeds cost alike
    val rawV = pickN(for (f <- Seq("A", "N", "R"); y <- 1993 to 1997) yield (f, y), 2).map { case (f, y) =>
      val (from, to) = (s"$y-01-01 00:00:00", s"${y + 1}-01-01 00:00:00")
      Stmt("raw",
        s"""SELECT "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate" """ +
          s"""FROM ${tbl("lineitem")} WHERE "l_returnflag" = '$f' AND "l_shipdate" >= TIMESTAMP '$from' """ +
          s"""AND "l_shipdate" < TIMESTAMP '$to' ORDER BY "l_extendedprice" DESC, "l_orderkey", "l_linenumber" LIMIT 100""",
        ordered = true,
        expect(raw("lineitem").filter(col("l_returnflag") === f && col("l_shipdate") >= lit(ts(from)) &&
            col("l_shipdate") < lit(ts(to)))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")).limit(100)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")))
    }
    val aggV = pickN(1993 to 1997, 2).map { y =>
      val (from, to) = (s"$y-01-01 00:00:00", s"${y + 1}-01-01 00:00:00")
      Stmt("aggregate",
        s"""SELECT "l_returnflag", "l_linestatus", COUNT(*) AS "count", SUM("l_quantity") AS "sum_qty", """ +
          s"""SUM("l_extendedprice") AS "sum_price" FROM ${tbl("lineitem")} WHERE "l_shipdate" >= TIMESTAMP '$from' """ +
          s"""AND "l_shipdate" < TIMESTAMP '$to' GROUP BY "l_returnflag", "l_linestatus" """ +
          s"""ORDER BY "sum_qty" DESC, "l_returnflag", "l_linestatus" LIMIT 50""",
        ordered = true,
        expect(raw("lineitem").filter(col("l_shipdate") >= lit(ts(from)) && col("l_shipdate") < lit(ts(to)))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("count"), sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_price"))
          .orderBy(col("sum_qty").desc, col("l_returnflag"), col("l_linestatus")).limit(50)))
    }
    val etypes = Seq("click", "view", "purchase", "login", "logout")
    val m = 1 + r.nextInt(12)
    val qtr = r.nextInt(4)
    val tsV = Seq(
      ("day", f"2025-$m%02d-01 00:00:00", if (m == 12) "2026-01-01 00:00:00" else f"2025-${m + 1}%02d-01 00:00:00"),
      ("week", f"2025-${qtr * 3 + 1}%02d-01 00:00:00", if (qtr == 3) "2026-01-01 00:00:00" else f"2025-${qtr * 3 + 4}%02d-01 00:00:00"),
      ("month", "2025-01-01 00:00:00", "2026-01-01 00:00:00")).map { case (grain, from, to) =>
      val et = etypes(r.nextInt(etypes.size))
      Stmt("timeseries",
        s"""SELECT date_trunc('$grain', "ts") AS "__timestamp", COUNT(*) AS "count", SUM("value") AS "sum_value" """ +
          s"""FROM ${tbl("event_log")} WHERE "ts" >= TIMESTAMP '$from' AND "ts" < TIMESTAMP '$to' """ +
          s"""AND "event_type" = '$et' GROUP BY date_trunc('$grain', "ts") ORDER BY "__timestamp" LIMIT 10000""",
        ordered = true,
        expect(raw("event_log").filter(col("ts") >= lit(ts(from)) && col("ts") < lit(ts(to)) && col("event_type") === et)
          .groupBy(date_trunc(grain, col("ts")).as("__timestamp"))
          .agg(count(lit(1)).as("count"), sum("value").as("sum_value")).orderBy("__timestamp")))
    }
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val starV = pickN(for (y <- 1993 to 1997; s <- segs) yield (y, s), 2).map { case (y, seg) =>
      val (from, to) = (s"$y-01-01 00:00:00", s"${y + 1}-01-01 00:00:00")
      Stmt("star_join",
        s"""SELECT "n_name", SUM("l_extendedprice" * (1 - "l_discount")) AS "revenue", COUNT(*) AS "count" """ +
          s"""FROM ${tbl("lineitem")} JOIN ${tbl("tpch_orders")} ON "l_orderkey" = "o_orderkey" """ +
          s"""JOIN ${tbl("customer")} ON "o_custkey" = "c_custkey" JOIN ${tbl("nation")} ON "c_nationkey" = "n_nationkey" """ +
          s"""WHERE "o_orderdate" >= TIMESTAMP '$from' AND "o_orderdate" < TIMESTAMP '$to' AND "c_mktsegment" = '$seg' """ +
          s"""GROUP BY "n_name" ORDER BY "revenue" DESC, "n_name" LIMIT 25""",
        ordered = true,
        expect(raw("lineitem").join(raw("tpch_orders"), col("l_orderkey") === col("o_orderkey"))
          .join(raw("customer"), col("o_custkey") === col("c_custkey"))
          .join(raw("nation"), col("c_nationkey") === col("n_nationkey"))
          .filter(col("o_orderdate") >= lit(ts(from)) && col("o_orderdate") < lit(ts(to)) && col("c_mktsegment") === seg)
          .groupBy("n_name")
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"), count(lit(1)).as("count"))
          .orderBy(col("revenue").desc, col("n_name")).limit(25)))
    }
    val allTables = Analytic ++ SeedCounts.map(_._1)
    val countV = pickN(allTables, 4).map { t =>
      val exp: () => Vector[Vector[Any]] = SeedCounts.toMap.get(t) match {
        case Some(n) => () => Vector(Vector(n))
        case None => () => Vector(Vector(raw(t).count()))
      }
      Stmt("count", s"""SELECT COUNT(*) AS "count" FROM ${tbl(t)}""", ordered = true, exp)
    }
    def columnsOf(t: String): Vector[Vector[Any]] =
      SeedColumns.get(t).map(_.map { case (n, ty) => Vector[Any](n, ty, null, "YES") }.toVector)
        .getOrElse(raw(t).schema.fields.map(f =>
          Vector[Any](f.name, trinoType(f.dataType), null, if (f.nullable) "YES" else "NO")).toVector)
    val introV = Vector(
      Stmt("introspection", """SELECT "schema_name" FROM "information_schema"."schemata"""", ordered = false,
        () => Vector(Vector("default"), Vector("demo"))),
      Stmt("introspection",
        """SELECT "table_name" FROM "information_schema"."tables" WHERE "table_schema" = 'demo' """ +
          """AND "table_type" = 'BASE TABLE' ORDER BY "table_name"""", ordered = true,
        () => (allTables ++ otherTables).sorted.map(t => Vector[Any](t)).toVector)) ++
      pickN(allTables, 2).map { t =>
        Stmt("introspection",
          """SELECT "column_name", "data_type", "column_default", UPPER("is_nullable") AS "is_nullable" """ +
            """FROM "information_schema"."columns" WHERE "table_schema" = 'demo' """ +
            s"""AND "table_name" = '$t' ORDER BY "ordinal_position" ASC""", ordered = true,
          () => columnsOf(t))
      }
    Map("raw" -> rawV.toVector, "aggregate" -> aggV.toVector, "timeseries" -> tsV.toVector,
      "star_join" -> starV.toVector, "count" -> countV.toVector, "introspection" -> introV)
  }

  /** Kinds in proportion; each client shuffles its own deck every cycle. */
  private val Deck = Seq("raw", "raw", "aggregate", "aggregate", "timeseries", "timeseries",
    "star_join", "count", "count", "introspection", "introspection")

  /** Each kind's share of the dashboards' nominal traffic. */
  val kindShare: Map[String, Double] = Deck.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / Deck.size }

  val SeedTables: Seq[String] = SeedCounts.map(_._1)

  def writeInputs(): Unit = {
    Data.lineitem(spark, opts.seed, sizes.lineitem).write.parquet(input.resolve("lineitem").toString)
    Data.orders(spark, opts.seed, sizes.orders, sizes.customer).write.parquet(input.resolve("tpch_orders").toString)
    Data.customer(spark, opts.seed, sizes.customer).write.parquet(input.resolve("customer").toString)
    Data.nation(spark).coalesce(1).write.parquet(input.resolve("nation").toString)
    Data.events(spark, opts.seed, sizes.events).write.parquet(input.resolve("event_log").toString)
  }

  private def send(client: TrinoClient, sql: String): WireResult = {
    attempted.incrementAndGet()
    val r = client.run(sql)
    if (!r.ok) failure(s"${r.error.getOrElse(r.state)}: ${sql.take(120)}")
    r
  }

  /** One set-up: seed.sh replayed over the wire and the analytic tables
    * registered. */
  def setupRep(client: TrinoClient): Unit = {
    SeedSql.foreach(send(client, _))
    Analytic.foreach { t =>
      Lakehouse.dropTable(spark, s"demo.$t")
      Lakehouse.registerExternal(spark, s"demo.$t", input.resolve(t).toUri.toString)
    }
  }

  /** Warm-up: every statement variant once over the wire. */
  def warmUp(client: TrinoClient): Unit = stmts.values.flatten.foreach(s => send(client, s.sql))

  /** Closed-loop wire clients for `seconds`; returns the observations and
    * the wall time from the first send to the last completion. With
    * `wholeDecks` the clients send decks in step: each completes its deck
    * and waits for the others, and they go on to another only if the
    * deadline has not passed. Every client then sends the kinds in the
    * deck's proportions, all of them under the same concurrency. */
  def wireLeg(port: Int, clients: Int, seconds: Double, salt: Int,
      wholeDecks: Boolean = false): (Seq[Obs], Double) = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Obs]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val more = new java.util.concurrent.atomic.AtomicBoolean(true)
    val inStep = new java.util.concurrent.CyclicBarrier(clients, () => more.set(System.nanoTime() < deadline))
    val threads = (0 until clients).map { ci =>
      new Thread(() => {
        val rng = new scala.util.Random(opts.seed * 1000 + salt * 100 + ci)
        val client = new TrinoClient(port, tracer)
        while (if (wholeDecks) more.get else System.nanoTime() < deadline) {
          val deck = rng.shuffle(Deck).iterator
          (if (wholeDecks) deck else deck.takeWhile(_ => System.nanoTime() < deadline)).foreach { kind =>
            val vs = stmts(kind)
            val s = vs(rng.nextInt(vs.size))
            val r = tracer.span("stmt.wire", stmtIds.incrementAndGet())(send(client, s.sql))
            out.add(Obs(s, r.ms, r.ok, r.rows, r.requests, r.responseBytes))
          }
          if (wholeDecks) inStep.await()
        }
      }, s"lakebench-dashboard-$ci")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** The same statement stream in process, on one thread (concurrent
    * in-process introspection would race on the information_schema temp
    * views, which the single-threaded wire front never does). */
  def inProcessLeg(seconds: Double): (Seq[(Obs, InProcess.Res)], Double) = {
    val rng = new scala.util.Random(opts.seed * 1000 + 999)
    val out = Seq.newBuilder[(Obs, InProcess.Res)]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      rng.shuffle(Deck).iterator.takeWhile(_ => System.nanoTime() < deadline).foreach { kind =>
        val vs = stmts(kind)
        val s = vs(rng.nextInt(vs.size))
        attempted.incrementAndGet()
        try {
          val r = InProcess.run(ctx, s.sql, stmtIds.incrementAndGet())
          out += (Obs(s, r.ms, ok = true, r.rows, 0, 0L) -> r)
        } catch {
          case scala.util.control.NonFatal(e) => failure(s"in process ${e.getMessage}: ${s.sql.take(120)}")
        }
      }
    }
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }

  /** Each distinct statement's expected answer is computed once (in
    * parallel: they are small, independent Spark jobs); every observed
    * answer is compared with it. */
  def verify(obs: Seq[Obs]): Unit = {
    val distinct = obs.map(_.stmt).distinctBy(_.sql).toVector
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val expected = try {
      val fs = distinct.map(s => pool.submit(() => s.expected()))
      distinct.map(_.sql).zip(fs.map(_.get())).toMap
    } finally pool.shutdown()
    val wrong = if (opts.breakCheck) obs.find(_.stmt.kind == "count").map(_.stmt.sql) else None
    obs.filter(_.ok).foreach { o =>
      val exp0 = expected(o.stmt.sql)
      val exp = if (wrong.contains(o.stmt.sql)) exp0.map(_.map { case n: Long => n + 1; case x => x }) else exp0
      Check.diff(o.rows, exp, o.stmt.ordered).foreach(d => mismatch(s"${o.stmt.kind}: $d :: ${o.stmt.sql.take(160)}"))
    }
  }

  /** The seed tables' bytes on disk, and the bytes of one fresh write of
    * their rows. */
  def storage(): (Long, Long) = {
    val fresh = ctx.dir("fresh")
    SeedTables.map { t =>
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some("demo"))).location
      val out = fresh.resolve(t)
      spark.table(s"demo.$t").write.mode("overwrite").parquet(out.toString)
      (bytesUnder(java.nio.file.Paths.get(loc)), bytesUnder(out))
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }
}
