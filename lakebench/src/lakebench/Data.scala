package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generation. Every table is a pure function of (seed,
  * scale): the TPC-H-shaped star schema the dashboard charts read, the
  * event log behind the time-series chart, and the document corpus the
  * curation pipeline consumes. Row counts at scale 0.1 match the sf0.1
  * tier the engine's own benchmark uses (lineitem 600K, orders 150K,
  * customer 15K, events 100K, documents 5K). Tables are written as one
  * parquet directory each under `dir`; the engine only ever sees them
  * as registered tables or, for the checks, as raw parquet. */
object Data {

  final case class Sizes(lineitem: Long, orders: Long, customer: Long,
      events: Long, documents: Int)

  def sizes(scale: Double): Sizes = Sizes(
    lineitem = (6000000 * scale).toLong,
    orders = (1500000 * scale).toLong,
    customer = (150000 * scale).toLong,
    events = (1000000 * scale).toLong,
    documents = math.max(200, (50000 * scale).toInt))

  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN",
    "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU",
    "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")

  /** 1992-01-01 00:00:00 UTC, the TPC-H order-date origin. */
  val Day0 = 694224000L
  /** 2025-01-01 00:00:00 UTC, the origin of the event log. */
  val EventDay0 = 1735689600L

  private def pick(seed: Long, salt: Int, n: Int, values: Seq[String]): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), " +
      s"CAST(pmod(xxhash64($seed, $salt, id), ${values.size}) AS INT) + 1)"

  private def num(seed: Long, salt: Int, mod: Long): String =
    s"pmod(xxhash64($seed, $salt, id), $mod)"

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Nations.zipWithIndex.map { case (n, i) => (i, n, i % 5) }
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(1, n + 1).selectExpr(
      "id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"CAST(${num(seed, 1, 25)} AS INT) AS c_nationkey",
      s"CAST(round(${num(seed, 2, 1099999)} / 100.0 - 999.99, 2) AS DOUBLE) AS c_acctbal",
      pick(seed, 3, 5, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")) + " AS c_mktsegment")

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(1, n + 1).selectExpr(
      "id AS o_orderkey",
      s"1 + ${num(seed, 11, customers)} AS o_custkey",
      pick(seed, 12, 3, Seq("F", "O", "P")) + " AS o_orderstatus",
      s"CAST(round(1000 + ${num(seed, 13, 49900000)} / 100.0, 2) AS DOUBLE) AS o_totalprice",
      s"timestamp_seconds($Day0 + ${num(seed, 14, 2405)} * 86400) AS o_orderdate",
      pick(seed, 15, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")) + " AS o_orderpriority")

  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(0, n).selectExpr(
      "id DIV 4 + 1 AS l_orderkey",
      s"1 + ${num(seed, 21, 20000)} AS l_partkey",
      s"1 + ${num(seed, 22, 1000)} AS l_suppkey",
      "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      s"CAST(1 + ${num(seed, 23, 50)} AS DOUBLE) AS l_quantity",
      s"CAST(round((1 + ${num(seed, 23, 50)}) * (900 + ${num(seed, 24, 100000)} / 100.0), 2) AS DOUBLE) AS l_extendedprice",
      s"CAST(${num(seed, 25, 11)} / 100.0 AS DOUBLE) AS l_discount",
      s"CAST(${num(seed, 26, 9)} / 100.0 AS DOUBLE) AS l_tax",
      pick(seed, 27, 3, Seq("A", "N", "R")) + " AS l_returnflag",
      pick(seed, 28, 2, Seq("F", "O")) + " AS l_linestatus",
      s"timestamp_seconds($Day0 + ${num(seed, 29, 2526)} * 86400) AS l_shipdate")

  def events(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(1, n + 1).selectExpr(
      "id AS event_id",
      s"timestamp_seconds($EventDay0 + ${num(seed, 31, 365L * 86400)}) AS ts",
      s"1 + ${num(seed, 32, 5000)} AS user_id",
      pick(seed, 33, 5, Seq("click", "view", "purchase", "login", "logout")) +
        " AS event_type",
      s"CAST(round(${num(seed, 34, 100000)} / 100.0, 2) AS DOUBLE) AS value",
      s"concat('{\"k\":', CAST(${num(seed, 35, 10)} AS STRING), '}') AS props")

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "join", "vector", "customer", "the", "a", "index",
    "plan", "cache", "shuffle", "task", "stage", "file", "commit", "tag",
    "lake")
  private val Langs = Seq("en", "en", "en", "en", "zh", "zh", "es", "es",
    "fr", "fr", "de", "de", "en")

  /** Document corpus: word bags over a 40-word vocabulary, 40-90 words
    * each, language-skewed (en about 38%). One document in ten is a
    * near-duplicate of an earlier one with its middle word replaced, so
    * its word 3-shingle Jaccard with the original is about 0.85 or more
    * and LSH at threshold 0.8 pairs it with near certainty. Returns the rows and the
    * injected (original, copy) id pairs. */
  def documents(seed: Long, n: Int)
      : (Seq[(Long, String, String, String, Long)], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val texts = new scala.collection.mutable.ArrayBuffer[Array[String]]()
    val langs = new scala.collection.mutable.ArrayBuffer[String]()
    val dups = Seq.newBuilder[(Long, Long)]
    for (i <- 0 until n) {
      if (i >= 20 && rnd.nextInt(10) == 0) {
        val src = rnd.nextInt(i)
        val words = texts(src).clone()
        val at = words.length / 2
        words(at) = Vocab((Vocab.indexOf(words(at)) + 1 + rnd.nextInt(Vocab.size - 1)) % Vocab.size)
        texts += words
        langs += langs(src)
        dups += (src.toLong -> i.toLong)
      } else {
        texts += Array.fill(40 + rnd.nextInt(51))(Vocab(rnd.nextInt(Vocab.size)))
        langs += Langs(rnd.nextInt(Langs.size))
      }
    }
    val rows = texts.indices.map { i =>
      val text = texts(i).mkString(" ")
      (i.toLong, text, langs(i), s"src${i % 10}", text.length.toLong)
    }
    (rows, dups.result())
  }
}
