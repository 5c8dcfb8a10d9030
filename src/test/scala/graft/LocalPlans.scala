package graft

/** Plan-shape probe shared by the equality-batch specs. */
object LocalPlans {

  /** Every leaf of the frame's analyzed plan is a LocalRelation: its
    * rows are on the driver, and collecting it runs no Spark job.
    */
  def allLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
}
