package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DeletionVectors, EqDeleteMeta, LakeTable, Reconcile, SnapshotMeta}
import graft.schema.FieldIds

/** The changelog built as a DataFrame union — the reference
  * `LakeTable.changelogBetween`'s one connector scan is checked
  * against. Per snapshot in (from, to], with byte moves skipped and
  * ordinals dense over the rest:
  *  - position deletes: the affected data files read whole through
  *    the pinned connector read with `_graft_file`/`_graft_pos`,
  *    semi-joined against the snapshot's deleted (path, pos) pairs —
  *    its delete files read with `spark.read.parquet`, or its
  *    deletion-vector DELTA blobs expanded on the driver;
  *  - equality batches: the batch's `k<id>` frame (inline keys or
  *    marker parquet) cast into the current schema's key fields,
  *    struct-nested keys rebuilt inside their enclosing structs,
  *    everything else null;
  *  - inserts: the added files read whole;
  *  - copy-on-write overwrites and full replaces: the before/after
  *    multiset row diff (tables without MAP columns only).
  * Each leg gets its three change columns by `withColumn`.
  */
object ChangelogReference {

  def changelogBetween(spark: SparkSession, t: LakeTable,
      fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    val md = t.metadata
    val current = md.currentSchema
    require(!current.fields.exists(f => LakeTable.hasMapType(f.dataType)),
      "the reference diffs copy-on-write snapshots without MAP columns")
    val clean = Reconcile.clean(current).asInstanceOf[StructType]
    val range = md.snapshots
      .filter(s => s.id > fromSnapshot && s.id <= toSnapshot)

    def tagged(df: DataFrame, typ: String, ord: Int, sid: Long): DataFrame =
      df.withColumn("_change_type", lit(typ))
        .withColumn("_change_ordinal", lit(ord))
        .withColumn("_change_snapshot_id", lit(sid))

    def eqMarkers(b: EqDeleteMeta): DataFrame = {
      val keyIds = b.fieldIds.toSet
      def hasKey(f: StructField): Boolean =
        FieldIds.flatten(StructType(Seq(f))).exists { case (_, sf) =>
          FieldIds.hasId(sf) && keyIds.contains(FieldIds.idOf(sf)) }
      def build(f: StructField): Column = f.dataType match {
        case st: StructType if hasKey(f) =>
          struct(st.fields.toSeq.map(c => build(c).as(c.name)): _*)
        case dt =>
          if (FieldIds.hasId(f) && keyIds.contains(FieldIds.idOf(f)))
            col(s"k${FieldIds.idOf(f)}").cast(dt)
          else lit(null).cast(dt)
      }
      LakeTable.eqBatchFrame(spark, b)
        .select(current.fields.toSeq.map(f => build(f).as(f.name)): _*)
    }

    def posMarkers(sn: SnapshotMeta): DataFrame = {
      import graft.sources.LakeSource.{FileMetaCol, PosMetaCol}
      val affected = sn.deleteCounts.keySet
      val byPath = md.snapshots.filter(_.id <= sn.id).flatMap(_.files)
        .map(f => LakeTable.normalizePath(f.path) -> f).toMap
      val deleted =
        if (sn.dvs.nonEmpty) {
          val pairs = new java.util.ArrayList[Row]()
          sn.dvs.foreach { d =>
            val path = LakeTable.normalizePath(d.dataPath)
            val it = DeletionVectors.readBlob(d.dvPath, d.deltaOffset,
              d.deltaLength).getLongIterator
            while (it.hasNext) pairs.add(Row(path, it.next()))
          }
          spark.createDataFrame(pairs, LakeTable.DeleteFileSchema)
        } else spark.read.schema(LakeTable.DeleteFileSchema)
          .parquet(sn.deletePaths: _*)
      val rows = t.readPinned(spark, affected.toSeq.sorted.map(byPath))
      rows.select(rows.columns.toSeq.map(c => col(s"`$c`")) ++ Seq(
          col(FileMetaCol).as("_graft_dfile"),
          col(PosMetaCol).as("_graft_dpos")): _*)
        .join(deleted.select(col("file_path").as("_graft_dfile"),
          col("pos").as("_graft_dpos")),
          Seq("_graft_dfile", "_graft_dpos"), "left_semi")
        .drop("_graft_dfile", "_graft_dpos")
    }

    def cowDiff(sn: SnapshotMeta): (DataFrame, DataFrame) = {
      val byPath = md.snapshots.filter(_.id < sn.id).flatMap(_.files)
        .map(f => LakeTable.normalizePath(f.path) -> f).toMap
      val before = t.readPinned(spark,
        sn.removedPaths.map(LakeTable.normalizePath).map(byPath),
        LakeTable.liveDeletes(md.snapshots.filter(_.id < sn.id)))
      val after = t.readPinned(spark, sn.files)
      (before.exceptAll(after), after.exceptAll(before))
    }

    def replaceDiff(sn: SnapshotMeta): (DataFrame, DataFrame) = {
      val prev = md.snapshots.filter(_.id < sn.id).map(_.id)
        .reduceOption(_ max _)
      val before = prev match {
        case Some(p) => t.read(spark, asOfSnapshot = Some(p))
        case None => spark.createDataFrame(
          java.util.Collections.emptyList[Row](), clean)
      }
      val after = t.readPinned(spark, sn.files)
      (before.exceptAll(after), after.exceptAll(before))
    }

    val parts = range.sortBy(_.id)
      .filterNot(s => LakeTable.isByteMove(s.operation))
      .zipWithIndex.flatMap { case (sn, ord) =>
        if (sn.operation == "replace" || sn.operation == "overwrite") {
          val (delRows, insRows) =
            if (sn.operation == "replace") replaceDiff(sn) else cowDiff(sn)
          Seq(tagged(delRows, "delete", ord, sn.id),
            tagged(insRows, "insert", ord, sn.id))
        } else {
          val dels =
            (if (sn.deletePaths.nonEmpty || sn.dvs.nonEmpty)
              Seq(posMarkers(sn)) else Seq.empty) ++
              sn.eqDeletes.map(eqMarkers)
          val ins =
            if (sn.files.nonEmpty) Seq(t.readPinned(spark, sn.files))
            else Seq.empty
          dels.map(tagged(_, "delete", ord, sn.id)) ++
            ins.map(tagged(_, "insert", ord, sn.id))
        }
      }
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(clean.fields.toSeq.map(_.copy(nullable = true)) ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_change_ordinal", IntegerType, nullable = false),
          StructField("_change_snapshot_id", LongType, nullable = false))))
    else parts.reduce(_.unionByName(_))
  }
}
