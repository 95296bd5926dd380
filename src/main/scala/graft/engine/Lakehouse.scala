package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedRelation, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{AlterViewAs, CreateView,
  Filter, LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.execution.command.{CreateViewCommand, ExplainCommand}
import org.apache.spark.sql.graft.ParsedSql

/** Catalog/DDL surface — the Spark-native stand-in for the reference's
  * Nessie-catalog + MinIO-warehouse tier (SURVEY.md §1.1, §2.1 S2-S8):
  *
  *   - `SHOW CATALOGS` readiness probe (seed.sh:49)        → listDatabases
  *   - `CREATE SCHEMA ... WITH (location=...)` (seed.sh:65) → createSchema
  *   - `CREATE TABLE` typed DDL (seed.sh:72...)             → createTable
  *   - `DROP TABLE IF EXISTS` (seed.sh:69...)               → dropTable
  *   - `INSERT INTO ... VALUES` (README.md:62)              → plain spark.sql
  *   - `INSERT INTO ... SELECT` (seed.sh:75...)             → plain spark.sql
  *
  * Everything routes through `spark.sql` so the exercised surface is the
  * real SQL parser/analyzer path, not a private API. Catalog versioning
  * (Nessie ref `main`) is out of scope — no Iceberg runtime jar (SURVEY.md
  * §7.3.7).
  */
object Lakehouse {

  /** `SELECT 1` liveness probe (seed.sh:34, S3). */
  def ping(spark: SparkSession): Boolean =
    spark.sql("SELECT 1").collect().head.getInt(0) == 1

  /** `SHOW CATALOGS`-equivalent readiness probe (seed.sh:49, S2). */
  def listSchemas(spark: SparkSession): Seq[String] =
    spark.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq

  /** CREATE SCHEMA IF NOT EXISTS with optional explicit location
    * (seed.sh:65, S4). */
  def createSchema(spark: SparkSession, name: String, location: Option[String] = None): Unit = {
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $name$loc")
  }

  /** Typed CREATE TABLE ... USING parquet (seed.sh:72-112, S5/S10);
    * `columns` are (name, sparkType) pairs. */
  def createTable(spark: SparkSession, fqName: String, columns: Seq[(String, String)]): Unit = {
    val cols = columns.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $fqName ($cols) USING parquet")
  }

  /** External-location table registration (iceberg.properties:19, S11). */
  def registerExternal(spark: SparkSession, fqName: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $fqName USING parquet LOCATION '$path'")

  /** DROP TABLE IF EXISTS (seed.sh:69, S6). */
  def dropTable(spark: SparkSession, fqName: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $fqName")

  /** Ad-hoc SQL entry point (README.md:49-50, §3.3) — the full statement
    * surface is whatever Spark SQL parses, plus:
    *
    *   - `MERGE INTO` ([[MergeSql]]) and row-level `DELETE FROM` /
    *     `UPDATE ... SET` ([[DmlSql]]) — Spark's v1 parquet catalog
    *     refuses all three natively; the routers land them on the Layout
    *     commit machinery — and the maintenance verbs
    *     ([[TableFunctions.maybeExecute]], [[AlterSql]], [[ShowStats]]);
    *   - relations the engine serves itself, resolved in the parsed plan
    *     before analysis: the ref-addressed time-travel spellings
    *     (`FOR VERSION AS OF 'tag' | <seq>`, `FOR TIMESTAMP AS OF`,
    *     `` `table@branch` `` — [[TimeTravel]]), the live-catalog
    *     `information_schema` ([[InfoSchema]] — the Superset
    *     dataset-refresh introspection path), the Iceberg metadata tables
    *     (`` `t$snapshots` `` / `$history` / `$refs` / `$files` …
    *     answered from the manifest store — [[MetaSql]]) and the
    *     changelog `TABLE(system.table_changes(...))`
    *     ([[TableFunctions.changes]]).
    *
    * The text is parsed once; a spelling inside a string literal is
    * data, and the served relations live only inside the statement's own
    * plan, so nothing is registered in the session. */
  def sql(spark: SparkSession, text: String): DataFrame =
    MergeSql.maybeExecute(spark, text)
      .orElse(DmlSql.maybeExecute(spark, text))
      .orElse(TableFunctions.maybeExecute(spark, text))
      .orElse(AlterSql.maybeExecute(spark, text))
      .orElse(ShowStats.maybeExecute(spark, text))
      .getOrElse(ParsedSql.sql(spark, text)(served(spark)))

  /** Substitute the engine-served relations in a parsed plan, in CTE
    * bodies, EXPLAIN targets, view bodies and subqueries too. Top-down,
    * so a filter directly above an `information_schema.columns` relation
    * is seen before the relation and scopes its build
    * ([[InfoSchema.columnsScope]]). */
  private def served(spark: SparkSession)(plan: LogicalPlan): LogicalPlan = {
    def named(parts: Seq[String], df: DataFrame): LogicalPlan =
      SubqueryAlias(parts, df.queryExecution.analyzed)
    object Columns {
      def unapply(p: LogicalPlan): Option[Seq[String]] = p match {
        case UnresolvedRelation(parts, _, _)
            if InfoSchema.relation(parts).contains("columns") => Some(parts)
        case _ => None
      }
    }
    def columns(parts: Seq[String], cond: Expression): LogicalPlan =
      named(parts, InfoSchema.build(spark, "columns", InfoSchema.columnsScope(cond)))
    plan.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, served(spark)(q).asInstanceOf[SubqueryAlias], d)
        })
      case e: ExplainCommand => e.copy(logicalPlan = served(spark)(e.logicalPlan))
      // a view keeps its SQL text, which Spark resolves at read time
      // without this pass: a temporary view keeps the substituted plan
      // instead, and a persistent view over a served relation refuses
      case v: CreateViewCommand =>
        val query = served(spark)(v.plan)
        if (query.fastEquals(v.plan)) v else v.copy(originalText = None, plan = query)
      case v @ (_: CreateView | _: AlterViewAs)
          if !v.children.forall(c => served(spark)(c).fastEquals(c)) =>
        throw new IllegalArgumentException(
          "a persistent view cannot read time travel, branches, metadata " +
            "tables, information_schema or table_changes: its body resolves " +
            "without the engine — use a temporary view")
      case f @ Filter(cond, Columns(parts)) => f.copy(child = columns(parts, cond))
      case f @ Filter(cond, a @ SubqueryAlias(_, Columns(parts))) =>
        f.copy(child = a.copy(child = columns(parts, cond)))
      case r @ UnresolvedRelation(parts, _, _) =>
        InfoSchema.relation(parts).map(rel => named(parts, InfoSchema.build(spark, rel)))
          .orElse(MetaSql.relation(parts).map { case (table, rel) =>
            named(parts, MetaSql.build(spark, table, rel))
          })
          .orElse(TimeTravel.branch(parts).map(fork => r.copy(multipartIdentifier = fork)))
          .getOrElse(r)
      case tt @ RelationTimeTravel(UnresolvedRelation(parts, _, _), _, _) =>
        named(parts, TimeTravel.read(spark, parts, tt))
      case f @ UnresolvedTableValuedFunction(name, args, _) =>
        TableFunctions.changesCall(name, args)
          .map(TableFunctions.changes(spark, _).queryExecution.analyzed)
          .getOrElse(f)
    }
  }

  /** Result delivery as CSV-with-header — the Trino-CLI `--output-format
    * CSV` shape (seed.sh:9, S12). Distributed write; callers coalesce(1)
    * if they need the single-file CLI shape. */
  def deliverCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** CREATE OR REPLACE VIEW — the saved-query layer (Superset datasets are
    * exactly this: a named SQL body resolved at read time,
    * init_db.py:73-88). Views live in the catalog like tables and
    * re-optimize with the tables under them. */
  def createView(spark: SparkSession, fqName: String, sqlBody: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW $fqName AS $sqlBody")

  /** ANALYZE TABLE — collect table (and optionally per-column) statistics
    * into the catalog for cost-based planning: accurate sizeInBytes drives
    * broadcast decisions, rowCount + column NDVs drive CBO join reorder.
    * At 100 TB stats freshness is what keeps the 6-way snowflakes (q92
    * shape) picking the right build sides. */
  def analyze(spark: SparkSession, fqName: String, columns: Seq[String] = Nil): Unit = {
    spark.sql(s"ANALYZE TABLE $fqName COMPUTE STATISTICS")
    if (columns.nonEmpty)
      spark.sql(s"ANALYZE TABLE $fqName COMPUTE STATISTICS FOR COLUMNS ${columns.mkString(", ")}")
  }

  /** Catalog-reported statistics line of DESCRIBE EXTENDED (None until
    * [[analyze]] has run). */
  def tableStats(spark: SparkSession, fqName: String): Option[String] =
    spark.sql(s"DESCRIBE TABLE EXTENDED $fqName").collect()
      .find(_.getString(0) == "Statistics").map(_.getString(1))

  /** CACHE TABLE — pin a hot table in the columnar in-memory store;
    * subsequent scans read `InMemoryTableScan` instead of parquet. The
    * BI-dashboard accelerator (every chart over the same dataset re-scans
    * it otherwise). */
  def cacheTable(spark: SparkSession, fqName: String): Unit =
    spark.catalog.cacheTable(fqName)

  def uncacheTable(spark: SparkSession, fqName: String): Unit =
    spark.catalog.uncacheTable(fqName)

  // -------------------------------------------------- network SQL endpoint
  // Every client of the reference stack is REMOTE: the Trino CLI speaks
  // HTTP to the coordinator (seed.sh:6-9), Superset connects via
  // SQLAlchemy (init_db.py:9), the web UI over the browser (README.md:49).
  // Spark's native wire protocol is Spark Connect (gRPC + Arrow batches);
  // starting it turns this in-process engine into the same shape: a
  // server other processes/languages query over the network, with each
  // client session isolated server-side but sharing the catalog — exactly
  // the coordinator model. The service runs inside the driver JVM; on a
  // cluster deploy this is the standard Spark Connect server.

  /** Start the Spark Connect gRPC endpoint on `port`. Remote clients
    * connect with `sc://host:port` (JVM/Python/Go clients all speak it). */
  def startConnectServer(spark: SparkSession, port: Int): Unit = {
    // the service reads its binding port from the driver's SparkConf
    // (SparkContext.conf is private; SparkEnv exposes the same instance)
    org.apache.spark.SparkEnv.get.conf
      .set("spark.connect.grpc.binding.port", port.toString)
    org.apache.spark.sql.connect.service.SparkConnectService.start(spark.sparkContext)
  }

  /** Stop the Spark Connect endpoint (idempotent). */
  def stopConnectServer(): Unit =
    org.apache.spark.sql.connect.service.SparkConnectService.stop(None, None)
}
