package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.StringType

/** SQL-surface time travel (VERDICT r15 #4): the Nessie-versioned
  * catalog the reference configures (`/root/reference/compose/trino/
  * catalog/iceberg.properties:6`, `iceberg.nessie-catalog.ref=main`)
  * implies three ref-addressed read spellings a Trino/SQL-Lab user
  * types:
  *
  *   - `SELECT ... FROM tbl FOR VERSION AS OF 'tag'` — Trino's Iceberg
  *     time-travel clause; resolves through [[Layout.readAt]] (manifest
  *     file list + schema — no live-catalog dependency). The bare
  *     numeric form `FOR VERSION AS OF 5` names a commit sequence
  *     ([[Layout.readAtSeq]]) — what `SELECT snapshot_id FROM
  *     "t$snapshots"` workflows paste.
  *   - `FROM tbl FOR TIMESTAMP AS OF '2026-01-01 00:00:00'` — the
  *     wall-clock variant; [[Layout.readAsOf]] resolves the LATEST
  *     committed snapshot at or before the instant (UTC — the engine's
  *     fixed session zone; bare dates and raw epoch-millis also parse).
  *   - `FROM "tbl@branch"` — the Nessie ref-qualified identifier;
  *     names the branch's writable fork table (`tbl__branch_branch`,
  *     [[Layout.createBranch]]'s registration).
  *
  * Spark's parser turns each spelling into a relation node, and
  * [[Lakehouse.sql]] substitutes the pinned read for it, so the rest of
  * the query plans over the pinned snapshot like any relation and a
  * spelling inside a string literal is data. Resolution is strict: an
  * unknown table, tag, or pre-history instant fails loudly in
  * [[Layout.readAt]]/[[Layout.readAsOf]] — never a silent fallback to
  * the live table, which would hand a user CURRENT rows while they
  * asked for pinned ones. Plumbed into [[Lakehouse.sql]], so the API
  * plane AND the wire front ([[StatementHttp]] routes through
  * Lakehouse.sql) share one path. */
object TimeTravel {

  private val PlainLeg = "[A-Za-z_][A-Za-z_0-9]*"
  private val BranchRx = "([A-Za-z_][A-Za-z_0-9.]*)@([A-Za-z_][A-Za-z_0-9]*)".r

  /** The fork table a parsed multipart name addresses when its last part
    * is spelled `tbl@branch` (in Spark dialect the backticked
    * `` `tbl@branch` `` — the wire plane's Trino `"tbl@branch"` arrives
    * as this after TrinoSql's identifier requoting), or None. */
  def branch(parts: Seq[String]): Option[Seq[String]] =
    parts.lastOption.collect { case BranchRx(t, b) =>
      parts.init ++ s"${t}__branch_$b".split('.')
    }

  /** Parse a `FOR TIMESTAMP AS OF` literal to epoch millis: ISO-ish
    * `yyyy-MM-dd HH:mm:ss[.SSS]` (UTC — the engine's fixed session
    * zone), a bare date (midnight UTC), or raw epoch millis digits. */
  private def parseTs(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d{13,}")) t.toLong
    else if (t.matches("\\d{4}-\\d{2}-\\d{2}"))
      java.time.LocalDate.parse(t).atStartOfDay(java.time.ZoneOffset.UTC)
        .toInstant.toEpochMilli
    else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  /** The plain manifest-addressable name of a parsed table chain (a
    * branch leg already resolved to its fork). A leg that needs quoting
    * (spaces, dashes …) REFUSES loudly — manifests address tables by
    * plain identifier, and passing it on would hand the user Spark's
    * confusing downstream error instead. */
  private def plainTable(parts: Seq[String]): String =
    branch(parts).getOrElse(parts).map { leg =>
      if (!leg.matches(PlainLeg))
        throw new IllegalArgumentException(
          s"time travel over quoted identifier `$leg` is not supported: " +
            "manifest-addressed tables use plain identifiers " +
            "([A-Za-z_][A-Za-z_0-9]*)")
      leg
    }.mkString(".")

  /** The pinned read a parsed `FOR VERSION|TIMESTAMP AS OF` clause over
    * the table `parts` names. The parser hands a quoted tag `'5'` and a
    * bare snapshot id `5` over as the same version string, so the
    * clause's source text keeps Trino's rule: quoted names a ref, bare
    * names a commit sequence. */
  def read(spark: SparkSession, parts: Seq[String],
      clause: RelationTimeTravel): DataFrame = {
    val table = plainTable(parts)
    val o = clause.origin
    val quoted = o.sqlText.zip(o.stopIndex).exists { case (s, i) =>
      s.charAt(i) == '\'' || s.charAt(i) == '"'
    }
    (clause.timestamp, clause.version) match {
      case (None, Some(tag)) if quoted => Layout.readAt(spark, table, tag)
      case (None, Some(seq)) => Layout.readAtSeq(spark, table, seq.toLong)
      case (Some(Literal(instant, _: StringType)), None) =>
        Layout.readAsOf(spark, table, parseTs(instant.toString))
      case _ =>
        throw new IllegalArgumentException(
          "FOR TIMESTAMP AS OF takes a quoted instant: " +
            "'yyyy-MM-dd HH:mm:ss', a date, or epoch millis")
    }
  }
}
