package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `Dataset.ofRows`, which is `private[sql]` (Scala-level
  * only — public in bytecode): the one hook needed to hand a custom
  * LogicalPlan to a session. Standard community-connector technique;
  * uses only the public Spark jar.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ⇄ catalyst Expression (same bytecode-public seam the
    * classic DataFrame API uses internally).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** `cols` projected over `child` and resolved by `spark`'s analyzer —
    * what `Dataset.select` analyzes, without building the Datasets. */
  def analyzeSelect(spark: SparkSession, child: LogicalPlan,
      cols: Seq[Column]): LogicalPlan = {
    val s = spark.asInstanceOf[classic.SparkSession]
    // the analyzer reads SQLConf.get (the session time zone, for one)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(s.sessionState.conf) {
      s.sessionState.analyzer.execute(
        org.apache.spark.sql.catalyst.plans.logical.Project(
          cols.map(c => classic.ExpressionUtils.toNamed(s.expression(c))), child))
    }
  }

  /** Run `body` under `spark`'s SQL confs — on this thread
    * (`SQLConf.get`), and with `jobs` in the tasks of every job it
    * launches — the conf view a FileFormatWriter write job runs its
    * writers under.
    */
  def withSessionConf[T](spark: SparkSession, jobs: Boolean)(body: => T): T = {
    val s = spark.asInstanceOf[classic.SparkSession]
    org.apache.spark.sql.internal.SQLConf.withExistingConf(s.sessionState.conf) {
      if (!jobs) body
      else org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(s)(body)
    }
  }

  /** The session's SQL parser (sessionState is Scala-private; public in
    * bytecode) — lets engine code wrap it in [[GraftSqlParser]] for the
    * extension DDL without requiring session-extension registration.
    */
  def sessionParser(spark: SparkSession)
      : org.apache.spark.sql.catalyst.parser.ParserInterface =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser

  /** Verbatim single-part column reference. `Expressions.column` PARSES
    * its argument as a multipart identifier, so a schema-sourced name
    * like "a.b" or "order date" would mis-resolve or throw; this is the
    * non-parsing constructor (Scala-private in the Spark jar, public in
    * bytecode — same seam class as above).
    */
  def fieldRef(name: String)
      : org.apache.spark.sql.connector.expressions.NamedReference =
    org.apache.spark.sql.connector.expressions.FieldReference.column(name)
}
