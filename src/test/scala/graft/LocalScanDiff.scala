package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.lake.LakeTable
import graft.sources.LakeLocalScan

/** The two read settings the differential specs run every seed under,
  * set per table: the default driver-decode bound (small scans decode
  * on the driver, [[LakeLocalScan]]) and 0 (every scan distributed).
  */
object LocalScanDiff {
  val Bounds: Seq[Option[Long]] = Seq(None, Some(0L))

  def props(bound: Option[Long]): Map[String, String] =
    bound.map(b => LakeLocalScan.MaxBytesProperty -> b.toString).toMap

  /** `props` as a table-definition `"properties"` JSON member, or "". */
  def propsJson(bound: Option[Long]): String = bound.fold("")(b =>
    s""","properties":{"${LakeLocalScan.MaxBytesProperty}":"$b"}""")

  def set(t: LakeTable, bound: Option[Long]): Unit =
    if (bound.isDefined) t.updateProperties(props(bound))

  def label(bound: Option[Long]): String =
    bound.fold("default bound")(b => s"bound $b")

  private def json(df: DataFrame): Seq[String] =
    df.toJSON.collect().toSeq.sorted

  /** The table's state in terms no file layout changes: its live rows,
    * and the rows its live deletes remove — each deleted position's
    * row, read from the data file by position.
    */
  def state(spark: SparkSession, t: LakeTable): (Seq[String], Seq[String]) = {
    val snaps = t.metadata.snapshots
    val files = LakeTable.liveFiles(snaps)
    val schema = t.currentSchema
    val cols = schema.fieldNames.toSeq.map(c => col(s"`$c`"))
    val deleted = ParquetReference.deletedPositions(spark, files,
      LakeTable.liveDeletes(snaps))
    val gone = ParquetReference.read(spark, t, files, schema, withPos = true)
      .join(ParquetReference.positionFrame(spark, deleted),
        Seq("_graft_dfile", "_graft_dpos"), "left_semi")
      .select(cols: _*)
    (json(t.read(spark).select(cols: _*)), json(gone))
  }
}
