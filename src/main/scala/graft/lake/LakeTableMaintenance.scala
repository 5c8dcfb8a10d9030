package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema._

/** Maintenance and statistics surface of [[LakeTable]]: compaction
  * (plain, scoped, z-order entry), bloom-filter build/backfill,
  * external file registration (`add_files`), ANALYZE, manifest and
  * position-delete rewrites, snapshot expiry, and orphan-file removal.
  * Pure extraction from the class body — no behavior change.
  */
private[lake] trait LakeTableMaintenance { self: LakeTable =>

  def compact(spark: SparkSession): SnapshotMeta =
    // v3 tables preserve row lineage through the rewrite: ids and
    // last-updated sequences materialize as columns in the compacted
    // files (Iceberg v3's rule — a rewrite must not re-identify rows)
    if (!writesVectors) writeSnapshot(read(spark), operation = "rewrite")
    else writeSnapshot(matLineage(readLineage(spark)),
      operation = "rewrite", lineage = true)

  /** Partition-scoped / small-file compaction (Iceberg's
    * `rewrite_data_files(where => ..., options => min-file-size)`): rewrite
    * ONLY the live files that (a) fall inside `partitionFilter`
    * (partition-field name → allowed transformed values; empty = all) and
    * (b) need it — smaller than `smallerThanBytes`, carrying merge-on-read
    * position deletes, covered by a live equality-delete batch, or written
    * under a non-current schema. Everything else is carried BY REFERENCE:
    * the commit is an "overwrite" snapshot whose `removedPaths` are exactly
    * the rewritten inputs, so untouched files keep their paths AND their
    * data sequence numbers through the `liveFiles` replay — at 100 TB this
    * is the difference between compacting one hot day-partition and
    * rewriting the whole table (which full `compact` does).
    *
    * Sequence correctness: the rewritten rows are read WITH all applicable
    * deletes applied, and the output files take the new snapshot's seq —
    * higher than every live equality batch, so no batch re-applies to
    * them; untouched files keep lower seqs, so still-applicable batches
    * keep applying to them. Returns None (no commit) when nothing in
    * scope needs rewriting — a no-op compaction must not create an empty
    * overwrite snapshot that CDC/incremental readers would then see.
    */
  def compactScoped(spark: SparkSession,
      partitionFilter: Map[String, Set[String]] = Map.empty,
      smallerThanBytes: Long = Long.MaxValue): Option[SnapshotMeta] = {
    val live = LakeTable.liveFiles(md.snapshots)
    val deletes = LakeTable.liveDeletes(md.snapshots)
    val eqBatches = LakeTable.liveEqDeletes(md.snapshots)
    def inScope(f: DataFileMeta): Boolean =
      partitionFilter.forall { case (k, vs) =>
        f.partitionValues.get(k).exists(vs.contains) }
    def needsRewrite(f: DataFileMeta): Boolean =
      smallerThanBytes == Long.MaxValue ||
        (f.bytes >= 0 && f.bytes < smallerThanBytes) ||
        deletes.contains(LakeTable.normalizePath(f.path)) ||
        eqBatches.exists(_.seq > f.seq) ||
        f.schemaId != md.currentSchemaId
    val selected = live.filter(f => inScope(f) && needsRewrite(f))
    // one surviving clean file alone gains nothing from a rewrite
    val worthIt = selected.size > 1 || selected.exists(f =>
      deletes.contains(LakeTable.normalizePath(f.path)) ||
        eqBatches.exists(_.seq > f.seq) || f.schemaId != md.currentSchemaId)
    if (selected.isEmpty || !worthIt) None
    else Some(writeSnapshot({
      val frame = readPinned(spark, selected, deletes, eqBatches,
        lineage = writesVectors)
      Align.keeping(if (writesVectors) matLineage(frame) else frame,
        md.currentSchema, LakeTable.matLineageCols)
    },
      // "rewrite-data", NOT "overwrite": the replay removes the
      // rewritten paths like a CoW overwrite, but CDC/changelog/
      // streaming readers and branch fast-forward treat it as the byte
      // move it is — a routine scoped compaction must never wedge a
      // changelog consumer or strand a branch publish
      operation = "rewrite-data", removedPaths = selected.map(_.path),
      retryConflicts = false, lineage = writesVectors))
  }

  /** Opt-in per-file bloom filters (`write.bloom-columns=a,b`): a
    * filter per (file, column) over `xxhash64(cast(col AS STRING))`,
    * built by the write tasks from the rows they write, stored in
    * `.gbf` sidecar containers, and referenced by ~40 bytes per
    * manifest entry ([[BloomRef]]) — scan planning can then drop files
    * on point-lookup equality that min/max ranges cannot prune
    * (high-cardinality ids spread across every file). Ineligible
    * columns (non-integral, non-string — their cast-to-string is not
    * promotion-stable) are skipped silently: skipping is always
    * conservative.
    *
    * The (column name, field id) pairs `write.bloom-columns` names,
    * restricted to bloom-eligible types — shared by the write path and
    * the backfill verb.
    */
  private[lake] def bloomTargets(): Seq[(String, Int)] = {
    val schema = md.currentSchema
    md.properties
      .get("write.bloom-columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
      .flatMap(n => schema.fields.find(_.name == n)
        .filter(f => BloomFilters.eligible(f.dataType) && FieldIds.hasId(f))
        .map(f => n -> FieldIds.idOf(f)))
  }

  /** `xxhash64(cast(col AS STRING))` per bloom column, null-gated:
    * xxhash64 is non-nullable (a null input leaves the seed), so
    * without the gate every null cell would plant the constant
    * seed-hash bit in the filter.
    */
  private[lake] def bloomHashCols(names: Seq[String]): Seq[Column] =
    names.map(n =>
      when(col(s"`$n`").isNotNull,
        xxhash64(col(s"`$n`").cast("string"))).as(s"_h_$n"))

  /** The distributed bloom build over a (`_fp`, hash...) frame: group
    * rows by file, build one filter per (file, column), write one
    * `.gbf` container PER TASK executor-side, and return only the
    * ~40-byte span refs per file.
    */
  private[lake] def buildBloomRefs(spark: SparkSession, hashFrame: DataFrame,
      targets: Seq[(String, Int)]): Array[(String, Seq[BloomRef])] = {
    import spark.implicits._
    val names = targets.map(_._1)
    val fids = targets.map(_._2)
    val dataDirStr = dataDir.toString
    Files.createDirectories(dataDir)
    hashFrame
      .groupByKey(r => LakeTable.normalizePath(r.getString(0)))
      .mapGroups { (path, it) =>
        // nulls carry no bloom bit: equality can't match null, and
        // IS NULL pruning is the null-count stats' job
        val bufs = Array.fill(names.size)(
          new scala.collection.mutable.ArrayBuffer[Long]())
        it.foreach { r =>
          var i = 0
          while (i < names.size) {
            if (!r.isNullAt(i + 1)) bufs(i) += r.getLong(i + 1)
            i += 1
          }
        }
        (path, bufs.toSeq.map(b =>
          BloomFilters.serialize(BloomFilters.build(b.toArray))))
      }
      .mapPartitions { groups =>
        // one container per non-empty task: the blobs this task built
        // are written HERE and dropped; only the span refs travel
        val entries = groups.toVector
        if (entries.isEmpty) Iterator.empty
        else {
          val container = java.nio.file.Paths.get(dataDirStr).resolve(
            s"blooms-${java.util.UUID.randomUUID().toString.take(12)}.gbf")
          val spans = BloomFilters.writeContainer(container,
            entries.flatMap(_._2)).toIndexedSeq
          var idx = -1
          entries.iterator.map { case (p, blobs) =>
            (p, fids.zip(blobs).map { case (fid, _) =>
              idx += 1
              BloomRef(fid, container.toString, spans(idx)._1,
                spans(idx)._2, BloomFilters.K)
            })
          }
        }
      }.collect()
  }

  /** Backfill per-file bloom filters for LIVE files that predate
    * `write.bloom-columns` (or were registered by reference via
    * `add_files`) — without it, a migrated table never skips. One
    * distributed build pass (per-task `.gbf` containers, refs-only on
    * the driver, same as the write path), then ONE metadata-only
    * "rewrite-data" snapshot re-referencing the same data paths with
    * blooms attached: byte-move semantics, so CDC/changelog/streaming
    * readers skip it, and the explicit `seq` carry preserves data
    * sequences (equality-delete applicability) and row lineage. Rows
    * already deleted still contribute bits — conservative (a probe may
    * keep a file whose matches are all deleted, never the reverse).
    *
    * Old-schema files reconcile to the CURRENT schema before hashing
    * (renames resolve by field id, promoted types canonicalize through
    * the cast-to-string hash, added-with-DEFAULT columns hash the fill
    * value), so probes against today's names stay lossless. Returns
    * the number of files that gained filters (0 = nothing to do).
    */
  def buildBlooms(spark: SparkSession): Int = {
    val targets = bloomTargets()
    require(targets.nonEmpty,
      "build_blooms: set write.bloom-columns to bloom-eligible " +
        "(integral/string) columns first")
    val wanted = targets.map(_._2).toSet
    val missing = plannedFiles().filter(f =>
      !wanted.subsetOf(f.blooms.map(_.fieldId).toSet))
    if (missing.isEmpty) return 0
    // one connector scan of the files under the current schema (no
    // deletes passed: deleted rows still contribute bits)
    val hashFrame = readPinned(spark, missing)
      .select(col(graft.sources.LakeSource.FileMetaCol).as("_fp") +:
        bloomHashCols(targets.map(_._1)): _*)
    val refsByPath = buildBloomRefs(spark, hashFrame, targets).toMap
    val updated = missing.flatMap(f =>
      refsByPath.get(LakeTable.normalizePath(f.path)).map { refs =>
        // keep refs for columns outside today's target set (a column
        // later removed from write.bloom-columns keeps answering)
        f.copy(blooms =
          f.blooms.filterNot(r => wanted.contains(r.fieldId)) ++ refs)
      })
    // zero-row files produce no hash group and no refs — nothing to
    // attach, and stats already prune them
    if (updated.isEmpty) return 0
    val snapshotId = md.snapshots.map(_.id).foldLeft(0L)(math.max) + 1
    val snap = SnapshotMeta(snapshotId, updated, md.currentSchemaId,
      operation = "rewrite-data",
      removedPaths = updated.map(_.path),
      timestampMs = System.currentTimeMillis())
    commit(md.copy(snapshots = md.snapshots :+ snap))
    updated.size
  }

  /** Iceberg's `add_files` / migrate shape: register EXISTING parquet
    * files into the table BY REFERENCE — no read, no copy, no rewrite;
    * O(files) footer IO for row counts and min/max stats. The 100-TB
    * onboarding path: pointing the table at data that already exists
    * instead of re-ingesting it.
    *
    * External files carry no graft field ids, so reads match their
    * columns by NAME against the schema current at registration: every
    * file column that shares a name with a current column must match
    * its type EXACTLY (both readers pin the registered schema; a
    * mismatched physical type would fail row-by-row later — refuse at
    * registration instead). Current-schema columns absent from a file
    * read as null/initial-default via the normal reconciliation; extra
    * file columns are ignored. Later renames/evolutions work like any
    * other old-schema file (the registered schema version keeps the
    * names the files were matched under). Unpartitioned specs only —
    * external files carry no partition values. The files are
    * REFERENCED, not owned: compaction rewrites them into owned files,
    * and the orphan sweep (table-dir-scoped) never touches them.
    */
  def addFiles(spark: SparkSession, paths: Seq[String],
      partitionBase: Option[String] = None): SnapshotMeta = {
    require(paths.nonEmpty, "add_files: no paths given")
    val spec = md.currentSpec
    // partitioned specs: partition values come from the files' hive
    // layout (`k=v` dir segments below `partitionBase`), exactly
    // Iceberg's add_files-from-a-Hive-table shape. Identity transforms
    // only — a hive dir carries SOURCE values, and for any other
    // transform the metadata would need the transformed ones.
    val partColOfSpecField: Seq[(String, String)] =
      if (spec.fields.isEmpty) Seq.empty
      else {
        require(partitionBase.isDefined,
          "add_files on a partitioned table: pass the hive-layout base " +
            "dir so partition values can be derived from k=v segments")
        require(spec.fields.forall(_.transform == "identity"),
          "add_files supports identity partition specs only (hive dirs " +
            s"carry source values; spec has ${spec.fields.map(f =>
              s"${f.transform}(${f.name})").mkString(", ")})")
        val flat = FieldIds.flatten(md.currentSchema)
        spec.fields.map { f =>
          val src = flat.collectFirst {
            case (p, fd) if FieldIds.idOf(fd) == f.sourceFieldId => p
          }.getOrElse(throw new IllegalStateException(
            s"spec source field ${f.sourceFieldId} not in schema"))
          f.name -> src
        }
      }
    // duplicates refused WITHIN the call too, not just against the
    // live set — registering one path twice would double-count rows
    val inCallDup = paths.map(LakeTable.normalizePath)
      .groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
    require(inCallDup.isEmpty,
      s"add_files: path(s) given more than once: ${inCallDup.mkString(", ")}")
    val live = LakeTable.liveFiles(md.snapshots)
      .map(f => LakeTable.normalizePath(f.path)).toSet
    val dup = paths.filter(p => live(LakeTable.normalizePath(p)))
    require(dup.isEmpty,
      s"add_files: already part of the live set: ${dup.mkString(", ")}")
    val cur = Reconcile.clean(md.currentSchema).asInstanceOf[StructType]
    val withVals = paths.map { p =>
      require(Files.exists(Paths.get(p)), s"add_files: no such file $p")
      // driver-side footer read — same converter Spark's inference
      // uses, without the inference job per registered file
      val fs = FileStats.sparkSchemaFromFooter(p)
      // match the way Spark's reader will resolve at read time: CASE-
      // INSENSITIVELY (default spark.sql.caseSensitive=false) — a
      // case-differing mismatch must not escape the registration check
      def fileField(name: String): Option[StructField] =
        fs.fields.find(_.name.equalsIgnoreCase(name))
      cur.fields.foreach { tf =>
        fileField(tf.name).foreach { ff =>
          // ignore nullability at EVERY nesting level (r17 advice): the
          // footer converter derives nested nullability from parquet
          // repetition (required = non-nullable) where the old
          // spark.read inference forced nullable — a required nested
          // field must not fail a registration the reader handles fine
          require(org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(ff.dataType, tf.dataType),
            s"add_files: $p column '${ff.name}' is " +
              s"${ff.dataType.simpleString}, table expects " +
              s"'${tf.name}' ${tf.dataType.simpleString} — evolve the " +
              "table or rewrite the file first")
        }
      }
      val partVals: Map[String, String] =
        if (partColOfSpecField.isEmpty) Map.empty
        else {
          // the engine's readers never re-inject dir values into rows
          // (identity-partition data files always CARRY their source
          // columns) — refuse files that dropped them, or every row
          // would silently read the column as null
          val dirVals = Paths.get(partitionBase.get).relativize(Paths.get(p))
            .iterator().asScala.map(_.toString).filter(_.contains("="))
            .map { seg =>
              val Array(k, v) = seg.split("=", 2)
              k -> org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(v)
            }.toMap
          partColOfSpecField.map { case (specField, srcCol) =>
            // source may be struct-nested (identity on a.b): resolve
            // through nesting, case-insensitive at the top level
            require(fileField(srcCol).isDefined ||
                LakeTable.resolveStructPath(fs, srcCol).isDefined,
              s"add_files: $p does not carry partition source column " +
                s"'$srcCol' (hive writers drop it; rewrite the file " +
                "with the column retained)")
            val v = dirVals.getOrElse(srcCol,
              throw new IllegalArgumentException(
                s"add_files: $p has no '$srcCol=' dir segment below " +
                  s"${partitionBase.get}"))
            specField -> v
          }.toMap
        }
      p -> partVals
    }
    // retryConflicts=false: a retried commit would re-append the files
    // WITHOUT re-running the duplicate-registration check (a concurrent
    // add of the same path would double-count) — surface the conflict
    // and let the caller re-invoke addFiles against the fresh head
    commitExternalFiles(withVals, md.currentSchemaId, md.currentSpecId,
      retryConflicts = false)
  }

  /** Register externally written parquet files (the DSv2 sink's and
    * row-level ops' executor-side writers) as one snapshot: row counts
    * and min/max stats come from the footers, partition values were
    * derived per row by the writer under `writtenSpecId` (captured at
    * query start — a concurrent spec evolution must not re-label
    * them), and streaming commits carry (queryId, epochId) for replay
    * idempotence.
    */
  def commitExternalFiles(paths: Seq[(String, Map[String, String])],
      writtenSchemaId: Int,
      writtenSpecId: Int,
      streamBatchId: Option[Long] = None,
      streamId: Option[String] = None,
      operation: String = "append",
      removedPaths: Seq[String] = Seq.empty,
      branch: Option[String] = None,
      retryConflicts: Boolean = true): SnapshotMeta = {
    // files carry the schema they were WRITTEN under (captured at query
    // start) — a mid-stream evolution then reconciles on read like any
    // other old-schema file instead of corrupting metadata; partition
    // values were derived executor-side by the writer
    val schema = md.schemaById(writtenSchemaId)
    val files = LakeTable.parMapFiles(paths.sortBy(_._1)) { case (p, partVals) =>
      val (rows, stats) = FileStats.fromFooterWithRows(p, schema)
      DataFileMeta(p, writtenSchemaId, writtenSpecId,
        rows = rows, partitionValues = partVals,
        stats = stats,
        bytes = try Files.size(Paths.get(p)) catch { case _: Exception => -1L })
    }
    branch match {
      case Some(b) =>
        // streaming write-audit-publish: epochs stage onto the branch
        // (invisible to main) and fastForward publishes the audited
        // run. Conflicts surface — the stream retries the epoch under
        // its own idempotence bookkeeping.
        require(operation == "append" && removedPaths.isEmpty,
          s"branch streaming supports plain appends, got $operation " +
            s"with ${removedPaths.size} removals")
        // an epoch staged under an outdated schema could NEVER publish
        // (fast-forward checks schema equality) while the stream's
        // checkpoint advances past it — fail the epoch at the
        // evolution point so the loss is bounded, like the MoR branch
        // retry does
        require(writtenSchemaId == md.currentSchemaId,
          s"table evolved mid-stream (schema $writtenSchemaId -> " +
            s"${md.currentSchemaId}); restart the stream to pick up " +
            "the new schema before staging more branch epochs")
        stageBranchSnapshot(b, files, writtenSchemaId, streamBatchId,
          streamId)
      case None =>
        commitSnapshot(files, writtenSchemaId, operation, streamBatchId,
          streamId, removedPaths, retryConflicts)
    }
  }

  /** Stage one append snapshot onto a branch — next id over the shared
    * id space, the branch marker tag, and the ref head bump, in one
    * commit. The single home of the branch-staging invariant, shared
    * by `appendToBranch` and the streaming branch sink.
    */
  private[lake] def stageBranchSnapshot(name: String, files: Seq[DataFileMeta],
      schemaId: Int, streamBatchId: Option[Long] = None,
      streamId: Option[String] = None,
      operation: String = "staged-append",
      removedPaths: Seq[String] = Seq.empty): SnapshotMeta = {
    val ref = branchRef(name)
    val snapshotId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val snap = SnapshotMeta(snapshotId, files, schemaId,
      operation = operation, streamBatchId = streamBatchId,
      streamId = streamId, removedPaths = removedPaths,
      timestampMs = System.currentTimeMillis(),
      wapId = Some(branchMarker(name)))
    commit(md.copy(staged = md.staged :+ snap,
      refs = md.refs + (name -> ref.copy(snapshotId = snapshotId))))
    snap
  }

  /** Register an executor-written merge-on-read delta — position-delete
    * parquets plus replacement/insert data files — as one snapshot
    * (operation "delete": replay adds the data files and accumulates
    * the deletes). The SQL WriteDelta path commits through here.
    */
  def commitExternalDelta(dataFiles: Seq[(String, Map[String, String])],
      deleteFiles: Seq[String], deleteCounts: Map[String, Long],
      writtenSchemaId: Int, writtenSpecId: Int,
      spark: Option[SparkSession] = None): Option[SnapshotMeta] = {
    if (dataFiles.isEmpty && deleteFiles.isEmpty) return None
    val schema = md.schemaById(writtenSchemaId)
    val files = LakeTable.parMapFiles(dataFiles.sortBy(_._1)) { case (p, partVals) =>
      val (rows, stats) = FileStats.fromFooterWithRows(p, schema)
      DataFileMeta(p, writtenSchemaId, writtenSpecId,
        rows = rows, partitionValues = partVals,
        stats = stats,
        bytes = try Files.size(Paths.get(p)) catch { case _: Exception => -1L })
    }
    val snapshotId = md.snapshots.map(_.id).foldLeft(0L)(math.max) + 1
    // a v3 table converts the task-written positional parquet into
    // deletion vectors AT COMMIT: one distributed pass over the delta
    // (the SQL WriteDelta scan emitted live rows only, so every pair
    // is newly deleted — writeVectorContainer's merge contract). The
    // parquet stage files become unreferenced and fall to the orphan
    // sweep; deleting them eagerly here would race a concurrent
    // reader that planned against them between our write and commit.
    val vectorized: Option[(Seq[DvMeta], Map[String, Long])] =
      if (writesVectors && deleteFiles.nonEmpty) {
        val s = spark.getOrElse(throw new IllegalStateException(
          "format-version=3 delta commit needs a SparkSession to " +
            "vectorize its position deletes"))
        writeVectorContainer(s,
          s.read.schema(LakeTable.DeleteFileSchema)
            .parquet(deleteFiles: _*).select("file_path", "pos"),
          snapshotId)
      } else None
    val snap = vectorized match {
      case Some((dvMetas, counts)) =>
        SnapshotMeta(snapshotId, files, writtenSchemaId,
          operation = "delete", deleteCounts = counts,
          timestampMs = System.currentTimeMillis(), dvs = dvMetas)
      case None =>
        SnapshotMeta(snapshotId, files, writtenSchemaId,
          operation = "delete", deletePaths = deleteFiles.sorted,
          deleteCounts = deleteCounts.map { case (p, n) =>
            LakeTable.normalizePath(p) -> n
          }, timestampMs = System.currentTimeMillis())
    }
    commit(md.copy(snapshots = md.snapshots :+ snap))
    Some(snap)
  }

  /** ANALYZE TABLE: one scan computing, per top-level column, the
    * distinct-value count (HLL estimate by default, exact
    * COUNT(DISTINCT) with `exact = true`) and null count, committed
    * into table metadata as [[TableStatsMeta]] with snapshot
    * provenance — the DSv2 scan then serves them to Spark's
    * cost-based optimizer (`columnStats`), so lake-to-lake join plans
    * see real cardinalities. Map-typed columns are skipped (not
    * distinct-countable). Metadata-only commit; snapshots untouched.
    * Stats are a snapshot-stamped approximation: re-run after bulk
    * changes, like Iceberg's statistics files.
    */
  def analyze(spark: SparkSession, exact: Boolean = false): TableStatsMeta = {
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    def hasMap(dt: DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case org.apache.spark.sql.types.ArrayType(e, _) => hasMap(e)
      case _ => false
    }
    val cols = md.currentSchema.fields.filterNot(f => hasMap(f.dataType))
    val frame = read(spark)
    val aggs = count(lit(1)).as("_rows") +: cols.toSeq.flatMap { f =>
      val c = col(s"`${f.name}`")
      Seq(
        (if (exact) countDistinct(c) else approx_count_distinct(c))
          .as(s"_ndv_${f.name}"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"_nul_${f.name}"))
    }
    val row = frame.agg(aggs.head, aggs.tail: _*).collect()(0)
    val stats = TableStatsMeta(
      snapshotId = md.snapshots.map(_.id).foldLeft(0L)(math.max),
      rowCount = row.getLong(0),
      exact = exact,
      cols = cols.toSeq.zipWithIndex.map { case (f, i) =>
        ColumnStatsMeta(FieldIds.idOf(f),
          ndv = row.getLong(1 + 2 * i),
          nullCount = if (row.isNullAt(2 + 2 * i)) 0L
            else row.getLong(2 + 2 * i))
      })
    commit(md.copy(tableStats = Some(stats)))
    stats
  }

  /** `ALTER COLUMN ... SET DEFAULT v` / `DROP DEFAULT`: change (or
    * clear) a top-level column's mutable WRITE default — the value
    * future writers get when they omit the column. The initial
    * default filling pre-column history is immutable by design; this
    * never touches it, so history reads the same forever. Metadata-
    * only commit on the current schema version: files already written
    * under it carry the column physically, so nothing re-interprets.
    */
  def setWriteDefault(column: String, value: Option[String]): Unit = {
    val cur = md.currentSchema
    require(cur.fields.exists(_.name == column), s"no column '$column'")
    val updated = StructType(cur.fields.map(f =>
      if (f.name == column)
        graft.schema.Defaults.withWriteDefault(f, value)
      else f))
    commit(md.copy(schemas = md.schemas.map(sv =>
      if (sv.id == md.currentSchemaId) sv.copy(schema = updated) else sv)))
  }

  /** Metadata-only manifest compaction (Iceberg's `rewrite_manifests`):
    * append one "rewrite" snapshot carrying the current live file set
    * in a single fresh manifest. Data files are untouched and history
    * stays fully readable — time travel to older ids replays the old
    * manifests — but forward reads now replay from ONE fat manifest
    * plus later deltas instead of the whole commit trail, resetting
    * planning cost after a long run of small commits. Incremental
    * consumers (CDC, streaming) skip rewrite snapshots, so no rows
    * re-deliver. Driver cost is O(live files) to write the merged
    * manifest — the op's inherent price, same as the expire squash.
    */
  def rewriteManifests(): SnapshotMeta = {
    require(md.snapshots.nonEmpty, "no snapshots to rewrite")
    // staleness first: a no-op verdict from a stale handle would hide
    // commits made through other handles ("metadata is compact" while
    // 500 unmerged commits exist) — surface the conflict like every
    // other write verb
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    // fixpoint guard: when the head is already a rewrite there is
    // nothing to merge — an unconditional maintenance loop must not
    // append a fresh full-inventory manifest per run forever
    if (LakeTable.isReset(md.snapshots.last.operation))
      return md.snapshots.last
    val snap = liveStateSnapshot(md.snapshots,
      id = (md.snapshots ++ md.staged).map(_.id).foldLeft(0L)(math.max) + 1,
      schemaId = md.currentSchemaId,
      timestampMs = System.currentTimeMillis())
    commit(md.copy(snapshots = md.snapshots :+ snap))
    snap
  }

  /** Iceberg's `rewrite_position_delete_files`: merge the accumulated
    * position-delete parquets into ONE file — dropping tombstones of
    * data files no longer live — WITHOUT touching any data file. The
    * cheap cure for delete-file sprawl between full compactions: after
    * a run of MoR deletes every affected data file drags a list of
    * small delete files through each read; afterwards it consults one.
    * Commits a live-state "rewrite" snapshot (replay reset, byte move —
    * CDC/changelog/streaming skip it) whose deletePaths are the merged
    * file; per-file deleted-row counts carry over unchanged, so
    * metadata-only COUNT(*) stays exact. (file,pos) tuples are unique
    * across live delete files by construction — the delete write path
    * excludes already-deleted positions — so the merge is a plain
    * concatenation. None when there is nothing to merge.
    */
  def rewritePositionDeleteFiles(spark: SparkSession): Option[SnapshotMeta] = {
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val liveDel = LakeTable.liveDeletes(md.snapshots)
    // a v3 table uses this maintenance verb as its MIGRATION: every
    // live positional parquet tombstone converts to a deletion vector
    // (the representation v3 mandates), after which reads never open
    // a delete parquet again
    if (writesVectors) return convertPositionalToVectors(liveDel)
    val delFiles = liveDel.values.flatMap(_.paths).toSeq.distinct
    if (delFiles.size <= 1) return None
    val newId = (md.snapshots ++ md.staged).map(_.id).foldLeft(0L)(math.max) + 1
    val dir = dataDir.resolve(
      s"posdel-$newId-${java.util.UUID.randomUUID().toString.take(8)}")
    // keep only tombstones of files still live (a CoW rewrite already
    // materialized the others); the live set is metadata-scale, shipped
    // as a broadcast semi-join, never a giant IN-list
    import spark.implicits._
    // vector-backed files need no tombstone carry — their DV is the
    // complete delete state and the squash carries it in `dvs`
    val livePaths = liveDel.collect {
      case (p, ds) if ds.dv.isEmpty => p }.toSeq.toDF("file_path")
    // r17: per-task direct write (no FileFormatWriter machinery)
    val merged = LakeTable.writeViaTaskWriter(
      spark.read.schema(LakeTable.DeleteFileSchema).parquet(delFiles: _*)
        .join(org.apache.spark.sql.functions.broadcast(livePaths),
          Seq("file_path"), "left_semi")
        .coalesce(1),
      dir, graft.sources.WritePlan.empty).map(_._1).sorted
    val snap = liveStateSnapshot(md.snapshots, newId, md.currentSchemaId,
      System.currentTimeMillis()).copy(deletePaths = merged)
    commit(md.copy(snapshots = md.snapshots :+ snap))
    Some(snap)
  }

  /** Convert every live positional-parquet delete to a deletion
    * vector in one squash commit: each live data file's bitmap builds
    * on the driver from the positions the readers themselves load
    * ([[graft.sources.LakeSource.loadDeletedPositions]]: one parse per
    * delete file, cached; tombstones of dead data files are never
    * asked for), the exact per-file counts audit the conversion, and
    * the committed "rewrite" snapshot carries ONLY vectors — the
    * already-vectored files' DVs ride along unchanged. Delta blobs are
    * empty (nothing is newly deleted; this is a representation change,
    * invisible to the changelog like any rewrite).
    */
  private[lake] def convertPositionalToVectors(
      liveDel: Map[String, DeleteSet]): Option[SnapshotMeta] = {
    import org.roaringbitmap.longlong.Roaring64Bitmap
    val positional = liveDel.filter(_._2.dv.isEmpty)
    if (positional.isEmpty) return None
    val newId = (md.snapshots ++ md.staged).map(_.id).foldLeft(0L)(math.max) + 1
    val blobs = positional.toSeq.sortBy(_._1).map { case (p, ds) =>
      val full = new Roaring64Bitmap()
      Option(graft.sources.LakeSource.loadDeletedPositions(ds.paths, p))
        .foreach(_.forEach(pos => full.addLong(pos)))
      // the exact per-file deleted-row count is tracked metadata — a
      // conversion that changes it would corrupt visible row counts
      require(full.getLongCardinality == ds.rows,
        s"positional→vector conversion for $p changed the deleted-row " +
          s"count: parquet holds ${full.getLongCardinality}, metadata " +
          s"says ${ds.rows}")
      p -> ((full, new Roaring64Bitmap()))
    }
    val dvPath = dataDir.resolve(s"deletes-$newId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".gdv")
    Files.createDirectories(dataDir)
    val dvMetas = DeletionVectors.writeContainer(dvPath, blobs)
    val squash = liveStateSnapshot(md.snapshots, newId, md.currentSchemaId,
      System.currentTimeMillis())
    val snap = squash.copy(deletePaths = Seq.empty, deleteCounts = Map.empty,
      dvs = (squash.dvs ++ dvMetas).sortBy(_.dataPath))
    commit(md.copy(snapshots = md.snapshots :+ snap))
    Some(snap)
  }

  def expireSnapshots(keepAfter: Long): Int = {
    val (expired, kept) = md.snapshots.partition(_.id <= keepAfter)
    if (expired.isEmpty) return 0
    // the squash keeps the newest expired snapshot's id and commit
    // time: it represents that history point, not "now" — an
    // unstamped squash would look ancient to age-based retention
    val squashed = liveStateSnapshot(expired,
      id = expired.last.id,
      schemaId = expired.last.schemaId,
      timestampMs = expired.map(_.timestampMs).max)
    val liveIds = (squashed +: kept).map(_.id).toSet
    // refs into the squashed-away prefix would dangle (time travel to
    // those ids is gone — the point of expiry). Tags anchor at their
    // snapshotId; writable branches anchor at their fork BASE (their
    // head may be a staged snapshot, never in the main history), and a
    // dropped branch takes its unpublished staged commits with it so
    // nothing strands.
    val (keptRefs, droppedRefs) = md.refs.partition { case (_, r) =>
      liveIds(r.baseSnapshotId.getOrElse(r.snapshotId))
    }
    val deadMarkers = droppedRefs.collect {
      case (n, r) if r.kind == "branch" && r.baseSnapshotId.isDefined =>
        branchMarker(n)
    }.toSet
    commit(md.copy(snapshots = squashed +: kept, refs = keptRefs,
      staged = md.staged.filterNot(s =>
        s.wapId.exists(deadMarkers.contains))))
    expired.size
  }

  /** Age-based retention (Iceberg's expire_snapshots timestamp mode):
    * squash every snapshot committed before `olderThanMs`, always
    * retaining the latest snapshot regardless of age. Snapshots
    * without a recorded commit time (pre-upgrade metadata) count as
    * old — they predate the field.
    */
  def expireSnapshotsOlderThan(olderThanMs: Long,
      cap: Long = Long.MaxValue): Int = {
    if (md.snapshots.isEmpty) return 0
    val byId = md.snapshots.sortBy(_.id)
    val latest = byId.last.id
    // Squashing is prefix-by-id, so only the contiguous old PREFIX is
    // eligible: with non-monotonic commit timestamps (clock skew), an
    // id below a younger-than-cutoff snapshot must survive — expiring
    // by old.max alone would squash it regardless of its age.
    // `cap` bounds the prefix further (materialized-view pin
    // protection — the CALL procedure passes the oldest pin). STRICT:
    // the pinned snapshot itself survives with its original timestamp,
    // or the squash's max-of-expired stamp would fail the dependent
    // MV's watermark-ts lineage check under clock skew.
    val prefix = byId.takeWhile(s =>
      s.timestampMs < olderThanMs && s.id < latest && s.id < cap)
    // Fixpoint: re-squashing a single already-squashed (or lone
    // append) snapshot is a no-op that would otherwise commit a new
    // metadata version and report 1 forever — maintenance loops that
    // run "until 0 expired" must terminate.
    if (prefix.isEmpty ||
        (prefix.size == 1 && LakeTable.isReset(prefix.head.operation))) 0
    else expireSnapshots(keepAfter = prefix.last.id)
  }

  /** Delete data files under this table's data/ directory that no
    * snapshot references (write-attempt leftovers from losing
    * optimistic-concurrency races, files dropped by expireSnapshots)
    * AND are older than `olderThanMillis`. The age threshold is the
    * concurrent-writer guard (same as Iceberg's): an in-flight write's
    * files exist on disk before its commit, so without it a cleanup
    * racing a writer would delete data the winning commit is about to
    * reference. Returns the deleted paths.
    */
  def removeOrphanFiles(
      olderThanMillis: Long = 24L * 60 * 60 * 1000): Seq[String] = {
    import scala.util.Using
    // snapshot clones (gc.enabled=false) share files with their source
    // table — a sweep computed from the CLONE's references could never
    // be safe for anyone, so refuse outright (Iceberg's gc.enabled
    // contract for snapshot/registered tables)
    require(!md.properties.get("gc.enabled").contains("false"),
      s"table ${md.database}.${md.table} has gc.enabled=false (a " +
        "snapshot clone shares its files) — removeOrphanFiles is " +
        "disabled on it")
    // the referenced set MUST be computed from the latest committed
    // metadata: a handle loaded long ago would treat files referenced
    // only by commits it hasn't observed as unreferenced, and their
    // mtime can fall before the age cutoff — deleting live data (or a
    // live manifest, making the current version unreadable). Refuse on
    // staleness, like every commit path does.
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently (expected " +
          s"v$loadedVersion, found v${currentHintVersion()}); reload " +
          "before removeOrphanFiles")
    // staged (unpublished WAP) snapshots still reference their files —
    // they only become orphans after discardStaged
    val referenced = (md.snapshots ++ md.staged).flatMap(s =>
      s.files.map(_.path) ++ s.deletePaths ++
        s.eqDeletes.flatMap(_.paths) ++ s.dvs.map(_.dvPath) ++
        s.files.flatMap(_.blooms.map(_.path))).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val orphans = if (!Files.exists(dataDir)) Seq.empty[Path] else
      Using.resource(Files.walk(dataDir)) { st =>
        st.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          // data parquet AND sidecar containers (deletion vectors,
          // bloom filters) — a commit that died between container
          // write and metadata claim strands a .gdv/.gbf the same way
          // a torn append strands parquet
          .filter(p => p.toString.endsWith(".parquet") ||
            p.toString.endsWith(".gdv") || p.toString.endsWith(".gbf"))
          .filterNot(p => referenced(p.toString))
          .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
          .toSeq
      }
    orphans.foreach { p =>
      Files.delete(p)
      // Hadoop local-FS checksum sibling, if any
      val crc = p.getParent.resolve("." + p.getFileName.toString + ".crc")
      Files.deleteIfExists(crc)
    }
    // prune now-empty directories bottom-up (partition dirs, snap dirs)
    if (Files.exists(dataDir)) Using.resource(Files.walk(dataDir)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .filter(p => p != dataDir && Files.isDirectory(p))
        .filter(p => Using.resource(Files.list(p))(
          s => !s.iterator().hasNext))
        .foreach(Files.delete)
    }
    // manifest JSONs the CURRENT metadata no longer references (crash
    // between manifest write and version claim, rollback, discarded
    // branch/WAP work, expire leftovers) are unreachable the same way
    // orphaned data files are — sweep them under the same age guard.
    // Old v*.json audit documents may still name them, but those
    // versions stop being readable once their data files are swept
    // anyway (the existing data-file policy).
    val liveManifests = (md.snapshots ++ md.staged)
      .flatMap(s => LakeTable.manifestParts(s.files))
      .map(_.manifestName).toSet
    val manifestOrphans = if (!Files.exists(metadataDir)) Seq.empty[Path]
      else Using.resource(Files.list(metadataDir)) { st =>
        st.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("manifest-") && n.endsWith(".json") &&
              !liveManifests(n)
          }
          .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
          .toSeq
      }
    manifestOrphans.foreach(Files.delete)
    // bounded metadata history (Iceberg's
    // write.metadata.previous-versions-max): version documents older
    // than the newest K are audit-only — no read path resolves them
    // (loads go through the version hint; time travel replays the
    // CURRENT document's snapshot log) — yet they accumulate one per
    // commit forever. Sweep them here; K is property-tunable.
    // clamped to >= 1: "previous"-versions-max must never touch the
    // document the version hint points at
    val keepVersions = md.properties
      .get("metadata.previous-versions-max").map(_.toInt).getOrElse(100)
      .max(1)
    val cut = loadedVersion - keepVersions
    val versionOrphans = if (cut < 1 || !Files.exists(metadataDir))
      Seq.empty[Path]
      else Using.resource(Files.list(metadataDir)) { st =>
        st.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("v") && n.endsWith(".json") &&
              scala.util.Try(n.stripPrefix("v").stripSuffix(".json").toInt)
                .toOption.exists(_ <= cut)
          }
          // same age guard as the data/manifest sweeps: a loader that
          // read the hint just before a commit burst must not crash on
          // a freshly-deleted document
          .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
          .toSeq
      }
    versionOrphans.foreach(Files.delete)
    (orphans ++ manifestOrphans ++ versionOrphans).map(_.toString)
  }

  // ---- row-level ops (copy-on-write) -----------------------------------
}
