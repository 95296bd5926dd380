package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** `spark.sql` with a step between parsing and analysis: the text is
  * parsed once with the session's parser (timed as the tracker's PARSING
  * phase, exactly as `spark.sql` times it), `substitute` rewrites the
  * parsed plan, and the result is analyzed and, for commands, executed
  * like any `spark.sql` statement. */
object ParsedSql {

  def sql(spark: org.apache.spark.sql.SparkSession, text: String)(
      substitute: LogicalPlan => LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    session.withActive {
      val tracker = new QueryPlanningTracker
      val parsed = tracker.measurePhase(QueryPlanningTracker.PARSING) {
        session.sessionState.sqlParser.parsePlan(text)
      }
      Dataset.ofRows(session, substitute(parsed), tracker)
    }
  }
}
