package graft.lake

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.FieldIds

/** The FileFormatWriter Hive-directory write the lake's batch writes
  * used before every write ran [[graft.sources.LakeParquetDataWriter]],
  * kept as the reference the one writer is checked against: the
  * partition values are `Transforms.expr` columns written with
  * `partitionBy` and read back from the unescaped directory names,
  * `write.option.*` properties are DataFrameWriter options, a
  * driver-resident frame coalesces to one task, rows hash-distribute
  * by partition value unless a `write.sort-order` range-partitions
  * and sorts them, and the per-file stats come from the footers. Bloom
  * filters are built by reading the written files back and hashing
  * the `write.bloom-columns` cells.
  */
object HiveDirWriteReference {

  /** One written file: its metadata (no bloom refs) and the bloom
    * filter bits per field id. */
  case class RefFile(meta: DataFileMeta, blooms: Map[Int, Array[Long]])

  def write(t: LakeTable, aligned0: DataFrame, outDir: Path): Seq[RefFile] = {
    val md = t.metadata
    val local = LakeTable.isLocalPlan(aligned0)
    val aligned = if (local) aligned0.coalesce(1) else aligned0
    val schema = md.currentSchema
    val spec = md.currentSpec
    val pCols = spec.fields.map { f =>
      val (srcName, srcField) = FieldIds.flatten(schema)
        .collectFirst { case (p, fd) if FieldIds.idOf(fd) == f.sourceFieldId => (p, fd) }
        .get
      (s"_p_${f.name}",
        Transforms.expr(f.transform, col(srcName), Some(srcField.dataType)))
    }
    val writerOpts = md.properties.collect {
      case (k, v) if k.startsWith("write.option.") =>
        k.stripPrefix("write.option.") -> v
    }
    val withP0 = pCols.foldLeft(aligned) { case (d, (n, e)) => d.withColumn(n, e) }
    val withP =
      if (pCols.isEmpty || md.properties.contains("write.sort-order") ||
          md.properties.get("write.distribution-mode").contains("none"))
        withP0
      else withP0.repartition(pCols.map(p => col(s"`${p._1}`")): _*)
    var plainSortCols: Seq[String] = Seq.empty
    val clustered = md.properties.get("write.sort-order") match {
      case None => withP
      case Some(order) =>
        val zorderRe = """(?i)zorder\s*\(([^)]*)\)""".r
        val sortExprs = order.trim match {
          case zorderRe(colSpec)
              if colSpec.split(",").count(_.trim.nonEmpty) >= 2 =>
            val cols = colSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val bits = 63 / cols.size
            val bins = BigDecimal(1L << bits)
            val statsRow = withP.select(cols.flatMap(c => Seq(
              min(col(s"`$c`").cast("double")), max(col(s"`$c`").cast("double")))): _*)
              .collect()(0)
            graft.functions.VectorFunctions.register(withP.sparkSession)
            val binned = cols.zipWithIndex.map { case (c, i) =>
              val lo = Option(statsRow.get(2 * i)).map(_.toString.toDouble).getOrElse(0.0)
              val hi = Option(statsRow.get(2 * i + 1)).map(_.toString.toDouble).getOrElse(0.0)
              val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
              least(
                floor((col(s"`$c`").cast("double") - lit(lo)) / lit(span) * lit(bins.toDouble)),
                lit(bins.toDouble - 1)).cast("long")
            }
            Seq(graft.functions.VectorFunctions.zorder(binned: _*))
          case other =>
            val plain = other match {
              case zorderRe(colSpec) => colSpec
              case p => p
            }
            val cols = plain.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            plainSortCols = cols
            cols.map(c => col(s"`$c`"))
        }
        if (sortExprs.isEmpty) withP
        else {
          val dirSort = pCols.map(p => col(s"`${p._1}`"))
          val ranged = md.properties.get("write.sort-buckets")
            .map(_.trim.toInt) match {
            case Some(n) => withP.repartitionByRange(n, sortExprs: _*)
            case None => withP.repartitionByRange(sortExprs: _*)
          }
          ranged.sortWithinPartitions(dirSort ++ sortExprs: _*)
        }
    }
    val sortedIds = plainSortCols.flatMap(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(FieldIds.idOf))
    val recordedSortIds =
      if (sortedIds.size == plainSortCols.size) sortedIds else Seq.empty
    val writer = clustered.write.mode("overwrite").options(writerOpts)
    val session = clustered.sparkSession.conf
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val callerTs = session.getOption(tsKey)
    session.set(tsKey, "TIMESTAMP_MICROS")
    try (if (pCols.nonEmpty) writer.partitionBy(pCols.map(_._1): _*)
         else writer).parquet(outDir.toString)
    finally callerTs match {
      case Some(v) => session.set(tsKey, v)
      case None => session.unset(tsKey)
    }
    val written = scala.util.Using.resource(Files.walk(outDir)) { st =>
      st.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .toSeq.sortBy(_.toString)
    }
    val metas = written.map { p =>
      val partVals = outDir.relativize(p).iterator().asScala.map(_.toString)
        .filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k.stripPrefix("_p_") ->
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(v)
        }.toMap
      val (rows, stats) = FileStats.fromFooterWithRows(p.toString, schema)
      DataFileMeta(p.toString, md.currentSchemaId, spec.id,
        rows = rows, partitionValues = partVals, stats = stats,
        bytes = Files.size(p), sortedByIds = recordedSortIds)
    }
    val targets = t.bloomTargets()
    val bits: Map[String, Map[Int, Array[Long]]] =
      if (targets.isEmpty || metas.isEmpty) Map.empty
      else {
        val hashed = aligned.sparkSession.read
          .schema(Reconcile.clean(schema).asInstanceOf[StructType])
          .parquet(metas.map(_.path): _*)
          .select(col("_metadata.file_path") +:
            t.bloomHashCols(targets.map(_._1)): _*)
          .collect()
        hashed.groupBy(r => LakeTable.normalizePath(r.getString(0)))
          .map { case (p, rs) =>
            p -> targets.zipWithIndex.map { case ((_, fid), i) =>
              fid -> BloomFilters.build(rs.iterator
                .filterNot(_.isNullAt(i + 1)).map(_.getLong(i + 1)).toArray)
            }.toMap
          }
      }
    metas.map(m => RefFile(m,
      bits.getOrElse(LakeTable.normalizePath(m.path), Map.empty)))
  }
}
