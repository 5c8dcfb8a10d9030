package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DataFileMeta, DeleteSet, DeletionVectors, EqDeleteMeta, LakeTable, Reconcile}

/** The plain parquet reference the connector's reads are checked
  * against: an explicit file list read with `spark.read.parquet`, one
  * scan group per (schema version, applicable equality batches,
  * materialized-lineage flag), each reconciled to the read schema by
  * `Reconcile.projection` and unioned. Deleted rows are dropped by an
  * anti-join of (`_metadata.file_path`, `_metadata.row_index`) against
  * positions collected on the driver — the delete files' rows and the
  * deletion vectors' bits — and equality batches by one null-safe
  * anti-join per key set. Lineage reads compute `_row_id` /
  * `_last_updated_sequence_number` from per-file constants joined by
  * path (a materialized cell wins).
  */
object ParquetReference {

  private val normalize = udf(LakeTable.normalizePath _)

  private val PosSchema = StructType(Seq(
    StructField("_graft_dfile", StringType, nullable = false),
    StructField("_graft_dpos", LongType, nullable = false)))

  /** Deleted (normalized data path, position) pairs of `files`. */
  def deletedPositions(spark: SparkSession, files: Seq[DataFileMeta],
      deletes: Map[String, DeleteSet]): Seq[(String, Long)] = {
    val sets = files.map(f => LakeTable.normalizePath(f.path))
      .flatMap(p => deletes.get(p).map(p -> _))
    val byDeleteFile: Map[String, Seq[(String, Long)]] =
      sets.flatMap(_._2.paths).distinct.map { dp =>
        dp -> spark.read.schema(LakeTable.DeleteFileSchema).parquet(dp)
          .collect().toSeq
          .map(r => (LakeTable.normalizePath(r.getString(0)), r.getLong(1)))
      }.toMap
    sets.flatMap { case (p, ds) =>
      val fromFiles = ds.paths.flatMap(byDeleteFile).filter(_._1 == p)
      val fromVector = ds.dv.toSeq
        .flatMap(d => vectorBits(d.dvPath, d.offset, d.length))
        .map(p -> _)
      fromFiles ++ fromVector
    }.distinct
  }

  /** The positions set in one deletion-vector blob. */
  def vectorBits(dvPath: String, offset: Long, length: Long): Seq[Long] = {
    val it = DeletionVectors.readBlob(dvPath, offset, length).getLongIterator
    val out = Seq.newBuilder[Long]
    while (it.hasNext) out += it.next()
    out.result()
  }

  /** A local frame of (`_graft_dfile`, `_graft_dpos`) pairs. */
  def positionFrame(spark: SparkSession, pairs: Seq[(String, Long)]): DataFrame = {
    spark.createDataFrame(pairs.map { case (p, i) => Row(p, i) }.asJava,
      PosSchema)
  }

  /** `files` of `t` read under `target` with `deletes` and `eqDeletes`
    * applied; `lineage` appends the lineage pair, `withPos` keeps the
    * row identity as `_graft_dfile` / `_graft_dpos`.
    */
  def read(spark: SparkSession, t: LakeTable, files: Seq[DataFileMeta],
      target: StructType,
      deletes: Map[String, DeleteSet] = Map.empty,
      eqDeletes: Seq[EqDeleteMeta] = Seq.empty,
      lineage: Boolean = false,
      withPos: Boolean = false): DataFrame = {
    val md = t.metadata
    val lineageFields = Seq(
      StructField("_row_id", LongType),
      StructField("_last_updated_sequence_number", LongType))
    val extra = (if (lineage) lineageFields else Nil) ++
      (if (withPos) PosSchema.fields.toSeq else Nil)
    if (files.isEmpty) {
      val clean = graft.sources.LakeSource.asNullable(
        Reconcile.clean(target).asInstanceOf[StructType])
      return spark.createDataFrame(Seq.empty[Row].asJava,
        StructType(clean.fields ++ extra))
    }
    val batches = eqDeletes.sortBy(_.seq)
    def suffixIdx(fseq: Long): Int = {
      val i = batches.indexWhere(_.seq > fseq)
      if (i < 0) batches.size else i
    }
    val positions = positionFrame(spark, deletedPositions(spark, files, deletes))
    files.groupBy(f => (f.schemaId, suffixIdx(f.seq),
        lineage && f.lineageCols)).map {
      case ((schemaId, bIdx, withMatCols), group) =>
        val fileSchema = md.schemaById(schemaId)
        val clean = Reconcile.clean(fileSchema).asInstanceOf[StructType]
        val tagged = spark.read
          .schema(if (!withMatCols) clean else StructType(clean.fields ++
            LakeTable.matLineageCols.map(StructField(_, LongType))))
          .parquet(group.map(_.path): _*)
          .select(col("*"),
            normalize(col("_metadata.file_path")).as("_graft_dfile"),
            col("_metadata.row_index").as("_graft_dpos"))
        val alive = tagged.join(positions, Seq("_graft_dfile", "_graft_dpos"),
          "left_anti")
        val withLineage = if (!lineage) alive else {
          val consts = spark.createDataFrame(group.map(f => Row(
              LakeTable.normalizePath(f.path),
              if (f.firstRowId >= 0) f.firstRowId else null,
              if (f.seq >= 0) f.seq else null)).asJava,
            StructType(Seq(StructField("_graft_dfile", StringType),
              StructField("_first", LongType), StructField("_seq", LongType))))
          val computedId = col("_first") + col("_graft_dpos")
          val joined = alive.join(consts, Seq("_graft_dfile"))
          if (withMatCols) joined.select(col("*"),
            coalesce(col("_graft_row_id"), computedId).as("_row_id"),
            coalesce(col("_graft_last_updated"), col("_seq"))
              .as("_last_updated_sequence_number"))
          else joined.select(col("*"), computedId.as("_row_id"),
            col("_seq").as("_last_updated_sequence_number"))
        }
        val projected = withLineage.select(
          Reconcile.projection(fileSchema, target) ++
            extra.map(f => col(f.name)): _*)
        // equality batches, one null-safe anti-join per key set; keys
        // resolve by field id against the read schema, each batch read
        // on its own (key files either side of a promotion differ in
        // physical type) and cast to the read schema's key types
        batches.drop(bIdx).groupBy(_.fieldIds).foldLeft(projected) {
          case (df, (ids, bs)) =>
            val resolved = ids.map(id => LakeTable.structPathOfId(target, id)
              .getOrElse(throw new IllegalStateException(s"key $id")))
            val keyDf = bs.map { b =>
              LakeTable.eqBatchFrame(spark, b).select(
                ids.zip(resolved).map { case (id, (_, f)) =>
                  col(s"k$id").cast(f.dataType).as(s"k$id")
                }: _*)
            }.reduce(_.unionByName(_))
            val cond = ids.zip(resolved.map(_._1)).map { case (id, n) =>
              val c: Column =
                if (target.fieldNames.contains(n)) df(s"`$n`") else df(n)
              c <=> keyDf(s"k$id")
            }.reduce(_ && _)
            df.join(keyDf, cond, "left_anti")
        }
    }.reduce(_.unionByName(_))
  }
}
