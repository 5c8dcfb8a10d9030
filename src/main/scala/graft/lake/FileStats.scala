package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import org.apache.spark.sql.types.StructType

import graft.schema.FieldIds

/** Per-file column statistics (min/max) for metadata-level file
  * skipping — the Iceberg scan-planning trick: a predicate like
  * `ts BETWEEN a AND b` or `key = k` can drop files from the scan list
  * before Spark ever opens them. Stats are read from parquet footers
  * at commit time (no data scan) and keyed by **field ID**, so they
  * stay valid across renames and reorders.
  *
  * `kind` is "num" (value encoded as BigDecimal string — covers
  * int/long/float/double and timestamp-as-micros), "str" (lexical
  * UTF8), or "none" (the column is entirely NULL in the file — no
  * min/max exist, but that fact itself prunes: no value predicate can
  * match an all-null column). Columns with no usable footer stats
  * simply have no entry — skipping is always conservative.
  *
  * `nulls` is the column's null count across the file's row groups
  * (-1 = unknown, e.g. a footer without null accounting or stats
  * written by an older engine version): `IS NULL` prunes files with
  * `nulls == 0`, `IS NOT NULL` prunes `kind == "none"` files.
  */
case class ColStats(kind: String, min: String, max: String,
    nulls: Long = -1L) {
  def overlaps(lo: Option[BigDecimal], hi: Option[BigDecimal]): Boolean =
    kind == "num" && {
      val mn = BigDecimal(min); val mx = BigDecimal(max)
      lo.forall(_ <= mx) && hi.forall(_ >= mn)
    } || kind == "str" // range filters only prune numeric stats

  def overlapsStr(lo: Option[String], hi: Option[String]): Boolean =
    kind != "str" || (lo.forall(_ <= max) && hi.forall(_ >= min))
}

/** A half-open/closed range predicate against a current-schema column,
  * used for stats-based file skipping. Values: BigDecimal for numeric
  * columns (timestamps as epoch micros), String for string columns.
  *
  * `isNull` / `notNull` carry pushed `IS [NOT] NULL` predicates into
  * null-count pruning; an `isNull` filter never carries bounds (the
  * shapes are mutually exclusive in Spark's pushed filters).
  *
  * `eqSet`: the exact value set of a pushed `IN (...)` (or `=`) as
  * canonical cast-to-string renderings, feeding the bloom probe
  * ([[LakeTable.bloomMightMatch]]) — the lo/hi fields still carry the
  * min/max ENVELOPE for range pruning. Empty when the predicate is
  * not a value-set shape (probing must stay conservative).
  */
case class RangeFilter(column: String,
    loNum: Option[BigDecimal] = None, hiNum: Option[BigDecimal] = None,
    loStr: Option[String] = None, hiStr: Option[String] = None,
    notNull: Boolean = false, isNull: Boolean = false,
    eqSet: Seq[String] = Seq.empty) {
  /** Any bound present — such a predicate only matches actual values,
    * so it implies NOT NULL for pruning purposes. */
  def hasBounds: Boolean =
    loNum.isDefined || hiNum.isDefined || loStr.isDefined || hiStr.isDefined
}

/** Shared Hadoop configs: `new Configuration()` reloads the XML
  * resource bundle every time (~10ms), which dominated commit time for
  * many-file snapshots and adds up per file open on the read path.
  * `shared` is never mutated; callers that must mutate use `mutable()`
  * (the copy constructor copies properties without an XML reload).
  *
  * Which engine IO still goes through Hadoop's RawLocalFileSystem under
  * these confs: the scan side only — the DSv2 readers' parquet record
  * readers ([[graft.sources]] `LakeReaders`), `LakeSourceOps`'
  * footer-schema read, and the fixture loader in `graft.queries.Tables`.
  * Data-file writes ([[graft.sources.LakeParquetDataWriter]]) and the
  * commit-time footer reads ([[FileStats]]) go through java.nio
  * (parquet's LocalOutputFile / LocalInputFile): RawLocalFileSystem
  * forks a `chmod` per created file when native Hadoop is absent. The
  * writer still takes a `mutable()` copy, as the carrier of its
  * ParquetWriteSupport settings only.
  */
private[graft] object HadoopConfs {
  lazy val shared: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    // RawLocalFileSystem (r18): the default ChecksumFileSystem writes
    // a `.crc` sidecar per file and re-reads it on every open, for a
    // checksum parquet's own page CRCs already cover. Scoped to THESE
    // confs only (the cache is disabled for the file scheme here, so
    // Spark's session FileSystems are untouched); ChecksumFileSystem
    // readers tolerate absent sidecars.
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }
  def mutable(): org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(shared)
}

object FileStats {

  /** Open one warehouse parquet file for its footer through java.nio
    * (parquet's LocalInputFile): no Hadoop FileSystem in the way. The
    * options come from the shared conf — parquet's default options
    * build a fresh Hadoop Configuration (an XML parse) per open.
    */
  private def openFooter(path: String): ParquetFileReader =
    ParquetFileReader.open(
      new LocalInputFile(java.nio.file.Paths.get(LakeTable.normalizePath(path))),
      HadoopReadOptions.builder(HadoopConfs.shared).build())

  /** Names of the top-level columns the file's footer declares
    * REQUIRED — a column no row of the file can hold NULL in. Empty
    * when the footer is unreadable (conservative: nothing proven).
    */
  def requiredTopLevel(path: String): Set[String] =
    try {
      val reader = openFooter(path)
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .filter(_.isRepetition(Type.Repetition.REQUIRED))
        .map(_.getName).toSet
      finally reader.close()
    } catch { case _: Exception => Set.empty }

  /** Extract top-level-column min/max from a parquet footer, mapped to
    * field IDs via the schema the file was written under.
    */
  def fromFooter(path: String, fileSchema: StructType): Map[Int, ColStats] =
    fromFooterWithRows(path, fileSchema)._2

  /** Spark-facing schema of ONE parquet file, read from its footer on
    * the driver — Spark's own footer→catalyst converter under the
    * session conf, so the result is what schema inference would have
    * produced, minus the inference JOB it launches (r17: driver stack
    * sampling showed mergeSchemasInParallel as the top catalyst cost
    * of the lake lifecycle band). Callers own the homogeneity
    * argument: every file read together must share this schema.
    */
  def sparkSchemaFromFooter(path: String): StructType = {
    val reader = openFooter(path)
    try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)
      .convert(reader.getFooter.getFileMetaData.getSchema)
    finally reader.close()
  }

  /** Footer record count + min/max stats from a single footer open —
    * commit paths need both, and the footer read is the per-file cost.
    * Rows = -1 when the footer is unreadable (matches the old
    * parquetRowCount contract); stats are then empty (conservative).
    */
  def fromFooterWithRows(path: String,
      fileSchema: StructType): (Long, Map[Int, ColStats]) = {
    val nameToId = fileSchema.fields.map(f => f.name -> FieldIds.idOf(f)).toMap
    try {
      val reader = openFooter(path)
      try {
        val rows = reader.getRecordCount
        // stats extraction failures must not destroy the exact row
        // count (rows = -1 disables COUNT/MIN/MAX metadata pushdown
        // for good) — degrade to empty stats instead
        val stats: Map[Int, ColStats] = try {
        val blocks = reader.getFooter.getBlocks.asScala
        val perCol = scala.collection.mutable.Map.empty[String, ColStats]
        // Null accounting is independent of min/max: a chunk with zero
        // non-null values has no min/max but its null count still
        // matters (an all-null column prunes IS NOT NULL and every
        // value predicate). nullsByCol accumulates across row groups;
        // a single chunk without accounting poisons the column to
        // "unknown" (-1) — never under-count.
        val nullsByCol = scala.collection.mutable.Map.empty[String, Long]
        val sawValues = scala.collection.mutable.Set.empty[String]
        for (block <- blocks; chunk <- block.getColumns.asScala) {
          val pathParts = chunk.getPath.toArray
          if (pathParts.length == 1 && nameToId.contains(pathParts(0))) {
            val name = pathParts(0)
            val st = chunk.getStatistics
            if (st != null && st.isNumNullsSet && st.getNumNulls >= 0)
              nullsByCol(name) = nullsByCol.get(name) match {
                case Some(-1L) => -1L
                case prev => prev.getOrElse(0L) + st.getNumNulls
              }
            else nullsByCol(name) = -1L
            if (st != null && st.hasNonNullValue) {
              sawValues += name
              val pt = chunk.getPrimitiveType
              // decimal columns store UNSCALED integers (INT32/INT64/
              // fixed binary by precision) — stats must be re-scaled or
              // a pushed `dec = 1.23` filter would compare against 123
              // and skip files that match
              val decScale: Option[Int] = pt.getLogicalTypeAnnotation match {
                case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                  Some(d.getScale)
                case _ => None
              }
              def scaled(v: String): String = decScale match {
                case Some(s) => BigDecimal(BigInt(v), s).toString
                case None => v
              }
              def scaledBinary(b: Any): Option[String] = (b, decScale) match {
                case (bin: org.apache.parquet.io.api.Binary, Some(s)) =>
                  Some(BigDecimal(BigInt(bin.getBytes), s).toString)
                case _ => None
              }
              val kindAndVals: Option[(String, String, String)] =
                pt.getPrimitiveTypeName match {
                  case INT32 | INT64 => Some(("num",
                    scaled(st.genericGetMin.toString),
                    scaled(st.genericGetMax.toString)))
                  case FLOAT | DOUBLE => Some(("num",
                    BigDecimal(st.genericGetMin.toString).toString,
                    BigDecimal(st.genericGetMax.toString).toString))
                  case FIXED_LEN_BYTE_ARRAY | BINARY if decScale.isDefined =>
                    for {
                      mn <- scaledBinary(st.genericGetMin)
                      mx <- scaledBinary(st.genericGetMax)
                    } yield ("num", mn, mx)
                  case BINARY
                    if pt.getLogicalTypeAnnotation ==
                      LogicalTypeAnnotation.stringType() =>
                    Some(("str",
                      st.minAsString(), st.maxAsString()))
                  case _ => None
                }
              kindAndVals.foreach { case (kind, mn, mx) =>
                perCol.get(name) match {
                  case None => perCol(name) = ColStats(kind, mn, mx)
                  case Some(prev) =>
                    val (nmn, nmx) =
                      if (kind == "num")
                        (BigDecimal(prev.min).min(BigDecimal(mn)).toString,
                          BigDecimal(prev.max).max(BigDecimal(mx)).toString)
                      else
                        (Seq(prev.min, mn).min, Seq(prev.max, mx).max)
                    perCol(name) = ColStats(kind, nmn, nmx)
                }
              }
            }
          }
        }
        // attach null counts to the min/max entries; columns whose
        // chunks carried stats but NO non-null value anywhere are
        // all-null — emit a "none" entry (prunes value predicates and
        // IS NOT NULL) provided null accounting confirmed rows exist
        val withNulls = perCol.map { case (name, cs) =>
          nameToId(name) -> cs.copy(nulls = nullsByCol.getOrElse(name, -1L))
        }.toMap
        val allNull = nullsByCol.collect {
          case (name, n) if n > 0 && !sawValues.contains(name) =>
            nameToId(name) -> ColStats("none", "", "", n)
        }.toMap
        withNulls ++ allNull
        } catch { case _: Exception => Map.empty[Int, ColStats] }
        (rows, stats)
      } finally reader.close()
    } catch { case _: Exception => (-1L, Map.empty[Int, ColStats]) }
  }

  /** Could the file contain rows matching every filter? (Conservative:
    * missing stats → keep the file.)
    */
  def mightMatch(stats: Map[Int, ColStats], currentSchema: StructType,
      filters: Seq[RangeFilter]): Boolean =
    filters.forall { f =>
      val fieldId = currentSchema.fields
        .find(_.name == f.column).map(FieldIds.idOf)
      fieldId.flatMap(stats.get) match {
        case None => true
        case Some(cs) if f.isNull =>
          // IS NULL: a file with zero nulls for the column can't match;
          // unknown accounting (-1) keeps the file
          cs.nulls != 0
        case Some(cs) if cs.kind == "none" =>
          // all-null column: value predicates and IS NOT NULL match no
          // row of this file
          !(f.hasBounds || f.notNull)
        case Some(cs) =>
          cs.overlaps(f.loNum, f.hiNum) && cs.overlapsStr(f.loStr, f.hiStr)
      }
    }
}
