package graft.lake

import org.apache.spark.sql.types._

import graft.schema._

/** Versioned table metadata — the engine's replacement for Iceberg's
  * metadata.json tree (which the reference delegates to PyIceberg+Glue,
  * `iceberg_helper.py:234-241, 384-385`). The table JSON holds every
  * schema version (with field IDs), every partition-spec version, and
  * the snapshot log; each snapshot's data-file list lives out-of-line
  * in an immutable manifest JSON ([[ManifestFiles]]) so the table
  * document is O(snapshots), not O(files). Data files are plain
  * parquet; no Iceberg dependency (none exists in this environment —
  * SURVEY.md §0).
  */
case class SpecField(sourceFieldId: Int, transform: String, name: String,
    specFieldId: Int)
case class PartitionSpecMeta(id: Int, fields: Seq[SpecField])
/** `sortedByIds`: field IDs the file's rows are sorted by (ascending,
  * nulls first — Spark's sortWithinPartitions default), recorded when a
  * `write.sort-order` clustered write produced the file. Lets the scan
  * report per-partition ordering (SupportsReportOrdering) so
  * storage-partitioned merge joins skip their sorts. Empty = unknown.
  */
/** `seq`: the file's data sequence number (Iceberg v2) — the snapshot
  * id under which its rows were (re)written. -1 = derive from the
  * containing snapshot (the common case; `LakeTable.liveFiles` stamps
  * it during replay). Stored explicitly only when a file outlives its
  * original snapshot (expire-squash carry), because equality-delete
  * applicability compares file seq < batch seq.
  */
/** `firstRowId`: base of the file's row-lineage id range (Iceberg v3
  * row lineage) — row N of the file has `_row_id = firstRowId + N`
  * unless the file carries a materialized `_graft_row_id` column
  * (`lineageCols = true`, written by rewrites to PRESERVE moved rows'
  * ids; null cells there inherit the computed id — v3's inheritance
  * rule, so one rewritten file mixes preserved and newly-born rows).
  * -1 = assigned before lineage existed; such rows expose a null
  * `_row_id` until a rewrite materializes them.
  */
/** `blooms`: out-of-line bloom-filter blob references for point-lookup
  * file skipping ([[BloomRef]], opt-in via `write.bloom-columns`) —
  * ~40 manifest bytes per (file, column), bits in a `.gbf` container.
  */
case class DataFileMeta(path: String, schemaId: Int, specId: Int, rows: Long,
    partitionValues: Map[String, String],
    stats: Map[Int, ColStats] = Map.empty,
    bytes: Long = -1L,
    sortedByIds: Seq[Int] = Seq.empty,
    seq: Long = -1L,
    firstRowId: Long = -1L,
    lineageCols: Boolean = false,
    blooms: Seq[BloomRef] = Seq.empty)
/** `streamId`/`streamBatchId`: the Structured-Streaming source
  * (checkpoint) and micro-batch that produced this snapshot, when
  * ingested via StreamIngest — foreachBatch is at-least-once, so the
  * sink uses them to make replays idempotent (Iceberg's streaming-sink
  * model). Batch ids are scoped to a checkpoint, hence the pair: a new
  * checkpoint restarts at batch 0 and must not be deduped against an
  * older stream's ids.
  */
/** `removedPaths`: data files this snapshot logically removes from the
  * live set — written by copy-on-write row-level ops (operation
  * "overwrite", Iceberg's delete/replace-files model). Appends and
  * rewrites never set it.
  *
  * `deletePaths`/`deleteCounts`: merge-on-read position deletes
  * (operation "delete", Iceberg v2's delete-file model): `deletePaths`
  * are parquet files of (file_path, pos) rows marking deleted
  * positions; `deleteCounts` maps each affected data-file path to how
  * many of its positions this commit deletes (exact — double deletes
  * are excluded at write time), which keeps metadata-only COUNT(*)
  * correct without opening delete files.
  */
/** `timestampMs`: wall-clock commit time (epoch millis; -1 for
  * snapshots written before the field existed) — powers TIMESTAMP AS
  * OF time travel and age-based retention.
  */
/** `wapId`: the write-audit-publish id this snapshot was staged under
  * (Iceberg's `wap.id` summary property). Set on staged snapshots and
  * carried onto the published cherry-pick for lineage; None for plain
  * writes.
  */
/** `dvs`: deletion vectors committed by this snapshot ([[DvMeta]],
  * Iceberg v3's delete model) — one FULL merged vector per affected
  * data file that REPLACES every earlier delete (vector or positional
  * parquet) for that file in replay. Written instead of `deletePaths`
  * when `format-version=3`; `deleteCounts` still records the
  * NEWLY deleted rows per file (changelog/summary bookkeeping), while
  * each vector's `cardinality` is the file's TOTAL live deleted count.
  */
case class SnapshotMeta(id: Long, files: Seq[DataFileMeta], schemaId: Int,
    operation: String = "append", streamBatchId: Option[Long] = None,
    streamId: Option[String] = None, removedPaths: Seq[String] = Seq.empty,
    deletePaths: Seq[String] = Seq.empty,
    deleteCounts: Map[String, Long] = Map.empty,
    timestampMs: Long = -1L,
    wapId: Option[String] = None,
    eqDeletes: Seq[EqDeleteMeta] = Seq.empty,
    dvs: Seq[DvMeta] = Seq.empty)

/** The live merge-on-read delete state for one data file: either the
  * delete parquet files that may hold its deleted positions (`paths`,
  * Iceberg v2 positional deletes) or its deletion vector (`dv`,
  * Iceberg v3 — when set, `paths` is empty and the vector is the
  * complete delete state), plus the exact number of deleted rows.
  */
case class DeleteSet(paths: Seq[String], rows: Long,
    dv: Option[DvMeta] = None)

/** An equality-delete batch (Iceberg v2's second delete-file kind):
  * `paths` are parquet files of key tuples, `fieldIds` identify the
  * key columns (schema-evolution-proof — names are resolved per
  * reader), and `seq` is the committing snapshot's id. A batch deletes
  * every matching row of every data file whose sequence is LOWER than
  * `seq` — rows (re)written at or after the batch survive, which is
  * what makes blind streaming upserts correct without reading the
  * table at write time. The marker files are the one stored copy of
  * the keys: metadata written by older versions may still carry them
  * inline (`inline-keys`/`inline-types`), which the parser ignores.
  */
case class EqDeleteMeta(paths: Seq[String], fieldIds: Seq[Int], seq: Long)
case class SchemaVersion(id: Int, schema: StructType)

/** Table-level column statistics (Iceberg's statistics-file concept,
  * inlined — the payload is O(columns)): per top-level column the
  * distinct-value count and null count as of `snapshotId`, computed by
  * `LakeTable.analyze`. `exact` records whether ndv came from a full
  * COUNT(DISTINCT) or an HLL estimate. Served to Spark's cost-based
  * optimizer through the DSv2 scan's `columnStats`, so join planning
  * over two lake tables sees real cardinalities, not guesses.
  */
case class ColumnStatsMeta(fieldId: Int, ndv: Long, nullCount: Long)
case class TableStatsMeta(snapshotId: Long, rowCount: Long,
    exact: Boolean, cols: Seq[ColumnStatsMeta])

/** A snapshot's data-file list stored OUT-OF-LINE in an immutable
  * manifest JSON under `metadata/` — the second tier of the Iceberg
  * metadata tree (manifest-list → manifest → data files;
  * `iceberg_helper.py` delegates this to PyIceberg, we implement the
  * two-tier shape directly). The table metadata carries only the
  * manifest name plus summary counts and a partition-value digest, so:
  *
  *   - a commit appends O(new files) manifest bytes and rewrites only
  *     the O(snapshots) table JSON — never the full file inventory;
  *   - scan planning consults the summary and can skip a whole
  *     manifest (zero IO) when pruning excludes every file in it;
  *   - unchanged snapshots re-reference their existing manifest file
  *     byte-for-byte across commits.
  *
  * Materializes lazily on first element access; `length`/`isEmpty`
  * answer from the recorded count without IO. Serializable so file
  * lists can ride inside closures; the transient cache reloads from
  * the manifest path after deserialization.
  */
final class ManifestFiles private[lake] (
    val pathStr: String,
    val fileCount: Int,
    /** Sum of the KNOWN per-file row/byte counts (the -1
      * unreadable-footer / pre-upgrade sentinels are excluded, same as
      * the .partitions rollup). byteCount is -1 when loaded from
      * metadata written before the field existed — unknown, not zero.
      */
    val rowCount: Long,
    val byteCount: Long,
    /** partition column → every distinct value across the manifest's
      * files. A column appears only when ALL files carry it and the
      * distinct count is ≤ ManifestIO.summaryCap — absence means
      * "cannot prune on this column", never "no such values".
      */
    val partitionSummary: Map[String, Set[String]],
    /** field id → min/max ColStats aggregated across the manifest's
      * files. An id appears only when EVERY file carries stats of one
      * kind for it, so "aggregate range misses the filter" implies
      * every file's range misses it — absence disables the fast path,
      * never skips wrongly.
      */
    val statsSummary: Map[Int, ColStats],
    @transient private val preloaded: Seq[DataFileMeta])
  extends Seq[DataFileMeta] with Serializable {

  @transient @volatile private var materialized: Seq[DataFileMeta] = preloaded

  private def loaded: Seq[DataFileMeta] = {
    // benign race: readManifest is idempotent over an immutable file
    if (materialized == null) materialized = ManifestIO.readManifest(pathStr)
    materialized
  }

  def manifestName: String =
    java.nio.file.Paths.get(pathStr).getFileName.toString
  def isMaterialized: Boolean = materialized != null
  override def apply(i: Int): DataFileMeta = loaded(i)
  override def length: Int = fileCount
  override def iterator: Iterator[DataFileMeta] = loaded.iterator
  override def isEmpty: Boolean = fileCount == 0
  override def knownSize: Int = fileCount

  /** True when `prune` (partition values) or `statsFilters` (min/max
    * ranges against `schema`'s columns) provably excludes every file in
    * this manifest — the summary-level fast path that lets planning
    * drop the whole manifest without reading it. Sound because a
    * summarized column is present in EVERY file: a partition value
    * outside the allowed set, or a filter range missing the aggregate
    * [min,max], fails each file individually too.
    */
  def prunedOut(prune: Map[String, Set[String]],
      schema: org.apache.spark.sql.types.StructType = null,
      statsFilters: Seq[RangeFilter] = Seq.empty): Boolean =
    prune.exists { case (name, allowed) =>
      partitionSummary.get(name).exists(vs => !vs.exists(allowed.contains))
    } || (statsFilters.nonEmpty && schema != null && statsSummary.nonEmpty &&
      !FileStats.mightMatch(statsSummary, schema, statsFilters))
}

/** Several manifests serving ONE snapshot — the partition-clustered
  * output of a large rewrite or append (Iceberg's rewrite_manifests
  * writes multiple manifests for the same reason): each part covers at
  * most `ManifestIO.summaryCap` distinct partition tuples, so its
  * summary survives and planning prunes PER PART. A single fat
  * manifest would lose the summary once a partition column exceeds the
  * cap, degrading every pruned read to a full inventory load. Lazy
  * like its parts; counts answer without IO.
  */
final class ManifestSet private[lake] (val parts: Vector[ManifestFiles])
    extends Seq[DataFileMeta] with Serializable {
  require(parts.nonEmpty, "a manifest set needs at least one part")
  override def apply(i: Int): DataFileMeta = {
    // Seq contract: IndexOutOfBounds on both ends; only the covering
    // part materializes
    var idx = i
    if (idx >= 0) parts.foreach { p =>
      if (idx < p.fileCount) return p(idx) else idx -= p.fileCount
    }
    throw new IndexOutOfBoundsException(s"$i of $length")
  }
  override def length: Int = parts.map(_.fileCount).sum
  override def iterator: Iterator[DataFileMeta] =
    parts.iterator.flatMap(_.iterator)
  override def isEmpty: Boolean = parts.forall(_.isEmpty)
  override def knownSize: Int = length
  def rowCount: Long = parts.map(_.rowCount).sum
  def byteCount: Long =
    if (parts.exists(_.byteCount < 0)) -1L else parts.map(_.byteCount).sum
}

object ManifestIO {
  import java.nio.file.{Files, Path, Paths, StandardOpenOption}

  /** Summary omits a partition column once its distinct-value count
    * exceeds this (a digest, not an index — Iceberg's manifest-level
    * partition summaries keep ranges for the same reason).
    */
  val summaryCap = 16

  /** Manifest files read since JVM start — observability + the test
    * hook proving summary pruning skipped loads entirely.
    */
  val loads = new java.util.concurrent.atomic.AtomicLong

  def summarize(files: Seq[DataFileMeta]): Map[String, Set[String]] = {
    if (files.isEmpty) return Map.empty
    val shared = files.head.partitionValues.keySet
      .filter(c => files.forall(_.partitionValues.contains(c)))
    shared.iterator.flatMap { c =>
      val vs = files.iterator.map(_.partitionValues(c)).toSet
      if (vs.size <= summaryCap) Some(c -> vs) else None
    }.toMap
  }

  /** Aggregate per-field min/max across the manifest's files, keeping
    * only field ids EVERY file has single-kind stats for (the
    * soundness condition for whole-manifest skipping). Unparseable
    * stats drop the field — conservative, never wrong.
    */
  def summarizeStats(files: Seq[DataFileMeta]): Map[Int, ColStats] = {
    if (files.isEmpty) return Map.empty
    val shared = files.head.stats.keySet
      .filter(id => files.forall(_.stats.contains(id)))
    shared.iterator.flatMap { id =>
      val cs = files.map(_.stats(id))
      // "none" (all-null in that file) merges with any value kind: it
      // contributes no values to the range, only to the null count
      val kinds = cs.map(_.kind).toSet - "none"
      if (kinds.size > 1) None
      else scala.util.Try {
        val valued = cs.filter(_.kind != "none")
        val nulls =
          if (cs.forall(_.nulls >= 0)) cs.map(_.nulls).sum else -1L
        val (kind, mn, mx) = kinds.headOption match {
          case None => ("none", "", "") // all-null in EVERY file
          case Some("num") => ("num",
            valued.map(c => BigDecimal(c.min)).min.toString,
            valued.map(c => BigDecimal(c.max)).max.toString)
          case Some(k) =>
            (k, valued.map(_.min).min, valued.map(_.max).max)
        }
        id -> ColStats(kind, mn, mx, nulls)
      }.toOption
    }.toMap
  }

  /** Partition-cluster a fresh file list into manifest-sized groups:
    * one group when the distinct (spec, partition-tuple) count fits
    * `summaryCap` (the summary survives as-is), else lexicographically
    * ordered buckets of at most `summaryCap` tuples each — every
    * bucket's per-column distinct count is then ≤ cap, so EVERY
    * output manifest keeps a prunable summary. This is what keeps
    * planning partition-selective after a rewrite merges a wide
    * table's whole inventory.
    */
  def cluster(files: Seq[DataFileMeta]): Seq[Seq[DataFileMeta]] = {
    // GROUP on the structured tuple (an unescaped "k=v,…" join would
    // collide values containing ',' or '='); the string render is
    // only the deterministic ORDERING key, where a collision merely
    // places two distinct groups adjacently
    val groups = files.groupBy(f =>
      (f.specId, f.partitionValues.toSeq.sorted)).toSeq
      .sortBy { case ((spec, tup), _) =>
        (spec, tup.map { case (k, v) => s"$k=$v" }.mkString(",")) }
    if (groups.size <= summaryCap) Seq(files)
    else groups.map(_._2).grouped(summaryCap).map(_.flatten).toSeq
  }

  /** Write an immutable manifest (CREATE_NEW — a name is never
    * overwritten) and return the already-materialized handle.
    */
  def write(path: Path, files: Seq[DataFileMeta]): ManifestFiles = {
    Files.writeString(path, Json.write(JObject(Map(
      "files" -> JArray(files.map(MetadataIO.dataFileToJson))))),
      StandardOpenOption.CREATE_NEW)
    new ManifestFiles(path.toString, files.size,
      files.map(_.rows).filter(_ >= 0).sum,
      files.map(_.bytes).filter(_ >= 0).sum,
      summarize(files), summarizeStats(files), files.toVector)
  }

  /** A lazy handle from table-metadata summary fields (load path). */
  def ref(pathStr: String, fileCount: Int, rowCount: Long,
      byteCount: Long, summary: Map[String, Set[String]],
      statsSummary: Map[Int, ColStats]): ManifestFiles =
    new ManifestFiles(pathStr, fileCount, rowCount, byteCount, summary,
      statsSummary, null)

  def readManifest(pathStr: String): Seq[DataFileMeta] = {
    loads.incrementAndGet()
    Json.parse(Files.readString(Paths.get(pathStr)))
      .asObj("files").asArr.map(MetadataIO.dataFileFromJson).toVector
  }
}

/** A named snapshot pointer (Iceberg's refs): `kind` is "tag"
  * (immutable release marker) or "branch". A branch is a WRITABLE
  * head: `snapshotId` tracks its latest commit (a staged snapshot once
  * the branch has its own writes) and `baseSnapshotId` records the
  * main-history snapshot it forked from — branch reads overlay the
  * branch commits on the base state, and fast-forward publishes them
  * onto main when main hasn't moved past the base.
  */
case class RefMeta(snapshotId: Long, kind: String = "tag",
    baseSnapshotId: Option[Long] = None)

/** `staged`: snapshots written but not yet part of the main history
  * (Iceberg's write-audit-publish staging). Invisible to every normal
  * read/time-travel/CDC path until `publishStaged` cherry-picks them
  * onto the head; their data files count as referenced (not orphans)
  * while staged.
  *
  * `identifierFieldIds`: the table's row-identity columns (Iceberg v2
  * `identifier-field-ids`), stored as FIELD IDS so renames can't break
  * identity. Declared via the `identifier-fields` table property
  * (comma-separated column names, resolved at create/evolve time);
  * key-less upsert/delete-by-key default to them, and explicit keys
  * that differ are refused — two CDC writers cannot silently diverge.
  */
case class TableMetadata(
    formatVersion: Int,
    database: String,
    table: String,
    schemas: Seq[SchemaVersion],
    currentSchemaId: Int,
    specs: Seq[PartitionSpecMeta],
    currentSpecId: Int,
    snapshots: Seq[SnapshotMeta],
    lastFieldId: Int,
    properties: Map[String, String] = Map.empty,
    refs: Map[String, RefMeta] = Map.empty,
    staged: Seq[SnapshotMeta] = Seq.empty,
    identifierFieldIds: Seq[Int] = Seq.empty,
    tableStats: Option[TableStatsMeta] = None,
    /** Next unassigned row-lineage id (Iceberg v3 `next-row-id`):
      * every commit stamps its new inline data files with sequential
      * `firstRowId` ranges from here and advances it by their row
      * counts — see `LakeTable.assignRowIds`. */
    nextRowId: Long = 0L) {
  def currentSchema: StructType =
    schemas.find(_.id == currentSchemaId).get.schema
  def currentSpec: PartitionSpecMeta =
    specs.find(_.id == currentSpecId).get
  def schemaById(id: Int): StructType = schemas.find(_.id == id).get.schema
  /** Total lookup for scan planning (the schema-absence prune): an
    * unknown id keeps the file, never throws. */
  def schemaOpt(id: Int): Option[StructType] =
    schemas.find(_.id == id).map(_.schema)
  def allFiles: Seq[DataFileMeta] = snapshots.flatMap(_.files)
}

object MetadataIO {

  // ---- DataType <-> JSON ----------------------------------------------

  def typeToJson(dt: DataType): JValue = dt match {
    case st: StructType => JObject(Map(
      "kind" -> JString("struct"),
      "fields" -> JArray(st.fields.toSeq.map(fieldToJson))))
    case ArrayType(et, n) => JObject(Map(
      "kind" -> JString("array"),
      "elementType" -> typeToJson(et),
      "containsNull" -> JBool(n)))
    case MapType(kt, vt, n) => JObject(Map(
      "kind" -> JString("map"),
      "keyType" -> typeToJson(kt),
      "valueType" -> typeToJson(vt),
      "valueContainsNull" -> JBool(n)))
    case dt: DecimalType => JObject(Map(
      "kind" -> JString("decimal"),
      "precision" -> JNumber(dt.precision), "scale" -> JNumber(dt.scale)))
    case other => JString(other.typeName)
  }

  def fieldToJson(f: StructField): JValue = JObject(Map(
    "name" -> JString(f.name),
    "id" -> JNumber(FieldIds.idOf(f)),
    "required" -> JBool(!f.nullable),
    "type" -> typeToJson(f.dataType)) ++
    graft.schema.Defaults.of(f)
      .map(d => "initial-default" -> (JString(d): JValue)).toMap ++
    (if (f.metadata.contains(graft.schema.Defaults.WriteKey))
      Map("write-default" -> (JString(
        f.metadata.getString(graft.schema.Defaults.WriteKey)): JValue))
     else Map.empty[String, JValue]) ++
    (if (f.metadata.contains(graft.schema.Defaults.DroppedKey))
      Map("write-default-dropped" -> (JBool(true): JValue))
     else Map.empty[String, JValue]))

  def typeFromJson(v: JValue): DataType = v match {
    case JString(s) => s match {
      case "timestamp_ntz" => TimestampNTZType
      case other => DataType.fromDDL(other)
    }
    case o: JObject =>
      val m = o.asObj
      m("kind").asStr match {
        case "struct" => StructType(m("fields").asArr.map(fieldFromJson))
        case "array" => ArrayType(typeFromJson(m("elementType")),
          m("containsNull").asBool)
        case "map" => MapType(typeFromJson(m("keyType")),
          typeFromJson(m("valueType")), m("valueContainsNull").asBool)
        case "decimal" => DecimalType(m("precision").asInt, m("scale").asInt)
        case k => throw new JsonException(s"unknown type kind $k")
      }
    case other => throw new JsonException(s"bad type json $other")
  }

  def fieldFromJson(v: JValue): StructField = {
    val m = v.asObj
    val base = FieldIds.withId(
      StructField(m("name").asStr, typeFromJson(m("type")),
        nullable = !m("required").asBool),
      m("id").asInt)
    val withInit = m.get("initial-default").map(d =>
      graft.schema.Defaults.withDefault(base, d.asStr)).getOrElse(base)
    (m.get("write-default"), m.get("write-default-dropped")) match {
      case (Some(d), _) =>
        graft.schema.Defaults.withWriteDefault(withInit, Some(d.asStr))
      case (None, Some(_)) =>
        graft.schema.Defaults.withWriteDefault(withInit, None)
      case _ => withInit
    }
  }

  // ---- DataFileMeta <-> JSON ------------------------------------------

  def dataFileToJson(df: DataFileMeta): JValue = JObject(Map(
    "path" -> JString(df.path),
    "schema-id" -> JNumber(df.schemaId),
    "spec-id" -> JNumber(df.specId),
    "rows" -> JNumber(df.rows),
    "bytes" -> JNumber(df.bytes)) ++
    (if (df.sortedByIds.isEmpty) Map.empty[String, JValue]
     else Map("sorted-by" -> JArray(df.sortedByIds.map(i => JNumber(i))))) ++
    (if (df.seq < 0) Map.empty[String, JValue]
     else Map("seq" -> JNumber(df.seq))) ++
    (if (df.firstRowId < 0) Map.empty[String, JValue]
     else Map("first-row-id" -> JNumber(df.firstRowId))) ++
    (if (!df.lineageCols) Map.empty[String, JValue]
     else Map("lineage-cols" -> JBool(true))) ++
    (if (df.blooms.isEmpty) Map.empty[String, JValue]
     else Map("blooms" -> JArray(df.blooms.map(b => JObject(Map(
       "field-id" -> JNumber(b.fieldId),
       "path" -> JString(b.path),
       "offset" -> JNumber(b.offset),
       "length" -> JNumber(b.length),
       "k" -> JNumber(b.k))))))) ++
    Map(
      "partition" -> JObject(df.partitionValues.map {
        case (k, v) => k -> JString(v)
      }),
      "stats" -> JObject(df.stats.map { case (id, cs) =>
        id.toString -> JObject(Map(
          "kind" -> JString(cs.kind),
          "min" -> JString(cs.min),
          "max" -> JString(cs.max)) ++
          (if (cs.nulls < 0) Map.empty[String, JValue]
           else Map("nulls" -> JNumber(cs.nulls))))
      })))

  def dataFileFromJson(df: JValue): DataFileMeta = {
    val dm = df.asObj
    DataFileMeta(dm("path").asStr, dm("schema-id").asInt,
      dm("spec-id").asInt, dm("rows").asLong,
      dm("partition").asObj.map { case (k, vv) => k -> vv.asStr },
      dm.get("stats").map(_.asObj.map { case (id, sv) =>
        val sm2 = sv.asObj
        id.toInt -> ColStats(sm2("kind").asStr,
          sm2("min").asStr, sm2("max").asStr,
          sm2.get("nulls").map(_.asLong).getOrElse(-1L))
      }).getOrElse(Map.empty),
      bytes = dm.get("bytes").map(_.asLong).getOrElse(-1L),
      sortedByIds = dm.get("sorted-by")
        .map(_.asArr.map(_.asInt)).getOrElse(Seq.empty),
      seq = dm.get("seq").map(_.asLong).getOrElse(-1L),
      firstRowId = dm.get("first-row-id").map(_.asLong).getOrElse(-1L),
      lineageCols = dm.get("lineage-cols").exists(_.asBool),
      blooms = dm.get("blooms").map(_.asArr.map { bv =>
        val bm = bv.asObj
        BloomRef(bm("field-id").asInt, bm("path").asStr,
          bm("offset").asLong, bm("length").asLong, bm("k").asInt)
      }).getOrElse(Seq.empty))
  }

  // ---- SnapshotMeta <-> JSON ------------------------------------------

  /** A snapshot whose file list lives out-of-line serializes a manifest
    * REFERENCE (name, counts, partition summary) instead of inline
    * files — the table JSON stays O(snapshots). The name is relative to
    * the metadata dir so a table directory can be relocated wholesale.
    */
  private def snapshotToJson(sn: SnapshotMeta): JValue = JObject(Map(
    "snapshot-id" -> JNumber(sn.id),
    "schema-id" -> JNumber(sn.schemaId),
    "operation" -> JString(sn.operation)) ++
    (if (sn.timestampMs < 0) Map.empty[String, JValue]
     else Map("timestamp-ms" -> JNumber(sn.timestampMs))) ++
    sn.streamBatchId.map(b => "stream-batch-id" -> JNumber(b)).toMap ++
    sn.streamId.map(s => "stream-id" -> JString(s)).toMap ++
    sn.wapId.map(w => "wap-id" -> JString(w)).toMap ++
    (if (sn.eqDeletes.isEmpty) Map.empty[String, JValue]
     else Map("eq-deletes" -> JArray(sn.eqDeletes.map(eq => JObject(Map(
       "paths" -> JArray(eq.paths.map(JString(_))),
       "field-ids" -> JArray(eq.fieldIds.map(i => JNumber(i))),
       "seq" -> JNumber(eq.seq))))))) ++
    (if (sn.removedPaths.isEmpty) Map.empty[String, JValue]
     else Map("removed-files" ->
       JArray(sn.removedPaths.map(JString(_))))) ++
    (if (sn.deletePaths.isEmpty) Map.empty[String, JValue]
     else Map("delete-files" ->
       JArray(sn.deletePaths.map(JString(_))))) ++
    (if (sn.deleteCounts.isEmpty) Map.empty[String, JValue]
     else Map("delete-counts" -> JObject(sn.deleteCounts.map {
       case (p, n) => p -> JNumber(n)
     }))) ++
    (if (sn.dvs.isEmpty) Map.empty[String, JValue]
     else Map("deletion-vectors" -> JArray(sn.dvs.map(dv => JObject(Map(
       "data-path" -> JString(dv.dataPath),
       "dv-path" -> JString(dv.dvPath),
       "offset" -> JNumber(dv.offset),
       "length" -> JNumber(dv.length),
       "cardinality" -> JNumber(dv.cardinality),
       "delta-offset" -> JNumber(dv.deltaOffset),
       "delta-length" -> JNumber(dv.deltaLength))))))) ++
    (sn.files match {
      case mf: ManifestFiles => manifestRefJson(mf)
      case ms: ManifestSet => Map[String, JValue](
        // multi-manifest snapshot: one ref object per part, same
        // fields as the flat single-manifest form
        "manifests" -> JArray(ms.parts.map(p => JObject(manifestRefJson(p)))))
      case fs => Map[String, JValue](
        "files" -> JArray(fs.map(dataFileToJson)))
    }))

  private def manifestRefJson(mf: ManifestFiles): Map[String, JValue] = Map(
    "manifest" -> JString(mf.manifestName),
    "manifest-file-count" -> JNumber(mf.fileCount),
    "manifest-row-count" -> JNumber(mf.rowCount),
    "manifest-byte-count" -> JNumber(mf.byteCount),
    "manifest-summary" -> JObject(mf.partitionSummary.map {
      case (c, vs) => c -> JArray(vs.toSeq.sorted.map(JString(_)))
    }),
    "manifest-stats" -> JObject(mf.statsSummary.map { case (id, cs) =>
      id.toString -> JObject(Map(
        "kind" -> JString(cs.kind),
        "min" -> JString(cs.min),
        "max" -> JString(cs.max)) ++
        (if (cs.nulls < 0) Map.empty[String, JValue]
         else Map("nulls" -> JNumber(cs.nulls))))
    }))

  private def snapshotFromJson(sn: JValue,
      metadataDir: java.nio.file.Path): SnapshotMeta = {
    val sm = sn.asObj
    def manifestRefFromJson(m: Map[String, JValue]): ManifestFiles = {
      val name = m("manifest")
      require(metadataDir != null,
        "manifest-backed metadata needs a metadata dir to resolve " +
          s"'${name.asStr}' (loaded without one)")
      ManifestIO.ref(metadataDir.resolve(name.asStr).toString,
        m("manifest-file-count").asInt,
        m("manifest-row-count").asLong,
        m.get("manifest-byte-count").map(_.asLong).getOrElse(-1L),
        m.get("manifest-summary").map(_.asObj.map { case (c, vs) =>
          c -> vs.asArr.map(_.asStr).toSet
        }).getOrElse(Map.empty),
        m.get("manifest-stats").map(_.asObj.map { case (id, sv) =>
          val m2 = sv.asObj
          id.toInt -> ColStats(m2("kind").asStr,
            m2("min").asStr, m2("max").asStr,
            m2.get("nulls").map(_.asLong).getOrElse(-1L))
        }).getOrElse(Map.empty))
    }
    SnapshotMeta(sm("snapshot-id").asLong,
      files = (sm.get("manifest"), sm.get("manifests")) match {
        case (Some(_), _) => manifestRefFromJson(sm)
        case (None, Some(arr)) => new ManifestSet(
          arr.asArr.map(p => manifestRefFromJson(p.asObj)).toVector)
        case _ => sm("files").asArr.map(dataFileFromJson)
      },
      schemaId = sm("schema-id").asInt,
      operation = sm.get("operation").map(_.asStr).getOrElse("append"),
      streamBatchId = sm.get("stream-batch-id").map(_.asLong),
      streamId = sm.get("stream-id").map(_.asStr),
      removedPaths = sm.get("removed-files")
        .map(_.asArr.map(_.asStr)).getOrElse(Seq.empty),
      deletePaths = sm.get("delete-files")
        .map(_.asArr.map(_.asStr)).getOrElse(Seq.empty),
      deleteCounts = sm.get("delete-counts")
        .map(_.asObj.map { case (p, n) => p -> n.asLong })
        .getOrElse(Map.empty),
      timestampMs = sm.get("timestamp-ms").map(_.asLong).getOrElse(-1L),
      wapId = sm.get("wap-id").map(_.asStr),
      eqDeletes = sm.get("eq-deletes").map(_.asArr.map { eq =>
        val em = eq.asObj
        EqDeleteMeta(em("paths").asArr.map(_.asStr),
          em("field-ids").asArr.map(_.asInt),
          em("seq").asLong)
      }).getOrElse(Seq.empty),
      dvs = sm.get("deletion-vectors").map(_.asArr.map { dv =>
        val dm = dv.asObj
        DvMeta(dm("data-path").asStr, dm("dv-path").asStr,
          dm("offset").asLong, dm("length").asLong,
          dm("cardinality").asLong,
          dm("delta-offset").asLong, dm("delta-length").asLong)
      }).getOrElse(Seq.empty))
  }

  // ---- TableMetadata <-> JSON -----------------------------------------

  def toJson(md: TableMetadata): JValue = JObject(Map(
    "format-version" -> JNumber(md.formatVersion),
    "database" -> JString(md.database),
    "table" -> JString(md.table),
    "current-schema-id" -> JNumber(md.currentSchemaId),
    "schemas" -> JArray(md.schemas.map(sv => JObject(Map(
      "schema-id" -> JNumber(sv.id),
      "fields" -> JArray(sv.schema.fields.toSeq.map(fieldToJson)))))),
    "current-spec-id" -> JNumber(md.currentSpecId),
    "partition-specs" -> JArray(md.specs.map(sp => JObject(Map(
      "spec-id" -> JNumber(sp.id),
      "fields" -> JArray(sp.fields.map(f => JObject(Map(
        "source-id" -> JNumber(f.sourceFieldId),
        "transform" -> JString(f.transform),
        "name" -> JString(f.name),
        "field-id" -> JNumber(f.specFieldId))))))))),
    "snapshots" -> JArray(md.snapshots.map(snapshotToJson)),
    "last-field-id" -> JNumber(md.lastFieldId),
    "properties" -> JObject(md.properties.map {
      case (k, v) => k -> JString(v)
    })) ++
    (if (md.nextRowId == 0L) Map.empty[String, JValue]
     else Map("next-row-id" -> JNumber(md.nextRowId))) ++
    md.tableStats.map(ts => "table-stats" -> (JObject(Map(
      "snapshot-id" -> JNumber(ts.snapshotId),
      "row-count" -> JNumber(ts.rowCount),
      "exact" -> JBool(ts.exact),
      "columns" -> JArray(ts.cols.map(c => JObject(Map(
        "field-id" -> JNumber(c.fieldId),
        "ndv" -> JNumber(c.ndv),
        "null-count" -> JNumber(c.nullCount))))))): JValue)).toMap ++
    (if (md.identifierFieldIds.isEmpty) Map.empty[String, JValue]
     else Map("identifier-field-ids" ->
       JArray(md.identifierFieldIds.map(JNumber(_))))) ++
    (if (md.staged.isEmpty) Map.empty[String, JValue]
     else Map("staged-snapshots" -> JArray(md.staged.map(snapshotToJson)))) ++
    (if (md.refs.isEmpty) Map.empty[String, JValue]
     else Map("refs" -> JObject(md.refs.map { case (n, r) =>
       n -> JObject(Map(
         "snapshot-id" -> JNumber(r.snapshotId),
         "kind" -> JString(r.kind)) ++
         r.baseSnapshotId.map(b =>
           "base-snapshot-id" -> (JNumber(b): JValue)).toMap)
     }))))

  /** `metadataDir` resolves manifest references (out-of-line file
    * lists); null is fine for fully-inline metadata (round-trip tests,
    * pre-manifest tables) and fails fast otherwise.
    */
  def fromJson(v: JValue,
      metadataDir: java.nio.file.Path = null): TableMetadata = {
    val m = v.asObj
    TableMetadata(
      formatVersion = m("format-version").asInt,
      database = m("database").asStr,
      table = m("table").asStr,
      schemas = m("schemas").asArr.map { sv =>
        val sm = sv.asObj
        SchemaVersion(sm("schema-id").asInt,
          StructType(sm("fields").asArr.map(fieldFromJson)))
      },
      currentSchemaId = m("current-schema-id").asInt,
      specs = m("partition-specs").asArr.map { sp =>
        val sm = sp.asObj
        PartitionSpecMeta(sm("spec-id").asInt,
          sm("fields").asArr.map { f =>
            val fm = f.asObj
            SpecField(fm("source-id").asInt, fm("transform").asStr,
              fm("name").asStr, fm("field-id").asInt)
          })
      },
      currentSpecId = m("current-spec-id").asInt,
      snapshots = m("snapshots").asArr.map(snapshotFromJson(_, metadataDir)),
      lastFieldId = m("last-field-id").asInt,
      properties = m.get("properties")
        .map(_.asObj.map { case (k, v) => k -> v.asStr })
        .getOrElse(Map.empty),
      nextRowId = m.get("next-row-id").map(_.asLong).getOrElse(0L),
      tableStats = m.get("table-stats").map { tv =>
        val tm = tv.asObj
        TableStatsMeta(tm("snapshot-id").asLong, tm("row-count").asLong,
          tm.get("exact").exists(_.asBool),
          tm("columns").asArr.map { cv =>
            val cm = cv.asObj
            ColumnStatsMeta(cm("field-id").asInt, cm("ndv").asLong,
              cm("null-count").asLong)
          })
      },
      refs = m.get("refs").map(_.asObj.map { case (n, rv) =>
        val rm = rv.asObj
        n -> RefMeta(rm("snapshot-id").asLong,
          rm.get("kind").map(_.asStr).getOrElse("tag"),
          rm.get("base-snapshot-id").map(_.asLong))
      }).getOrElse(Map.empty),
      staged = m.get("staged-snapshots")
        .map(_.asArr.map(snapshotFromJson(_, metadataDir)))
        .getOrElse(Seq.empty),
      identifierFieldIds = m.get("identifier-field-ids")
        .map(_.asArr.map(_.asInt)).getOrElse(Seq.empty))
  }
}
