package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema._

/** Row-level operations of [[LakeTable]]: copy-on-write DELETE /
  * UPDATE / MERGE (file-pruned rewrite of only the affected files) and
  * their merge-on-read counterparts (position/equality delete commits).
  * Pure extraction from the class body — no behavior change.
  */
private[lake] trait LakeTableRowOps { self: LakeTable =>

  /** Write `keys` (distinct) as an equality-delete parquet batch.
    * Columns are stored as `k<fieldId>` so later renames of the key
    * columns cannot orphan the batch — readers resolve names per
    * schema version by id. Key columns may be struct-NESTED scalars
    * (dotted paths, e.g. `meta.region` — Iceberg's equality deletes
    * likewise key on any nested field id); paths through arrays/maps
    * are refused (such a field doesn't identify a row).
    */
  private[lake] def writeEqDeleteBatch(keys: DataFrame, snapshotId: Long)
      : EqDeleteMeta = {
    val schema = md.currentSchema
    val fields = keys.columns.toSeq.map { c =>
      // exact top-level match first: a column NAMED with a dot must
      // not be re-parsed as a nested path
      val f = schema.fields.find(_.name == c)
        .orElse(LakeTable.resolveStructPath(schema, c)).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key '$c' is not a table column or a " +
            "struct-nested path (array/map paths cannot key a row)"))
      require(Seq(IntegerType, LongType, StringType, BooleanType,
        FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
        .contains(f.dataType) || f.dataType.isInstanceOf[DecimalType],
        s"equality-delete key '$c' must be a scalar of a supported " +
          s"type, got ${f.dataType.simpleString}")
      c -> f
    }
    val ids = fields.map { case (_, f) => FieldIds.idOf(f) }
    val proj = keys.select(fields.map { case (c, f) =>
      col(s"`$c`").cast(f.dataType).as(s"k${FieldIds.idOf(f)}")
    }: _*)
    val dir = dataDir.resolve(
      s"eqdel-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
    // a bounded LOCAL key set (the incremental-MV / touched-group
    // publication shape): dedupe on the driver, write the one marker
    // file driver-side (no Spark job), and INLINE the keys into the
    // metadata up to the cap — every later read of the batch then
    // plans a LocalRelation instead of a parquet scan + broadcast job
    if (LakeTable.isLocalPlan(keys)) {
      proj.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          val types = fields.map(_._2.dataType)
          val seen = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Option[String]],
              org.apache.spark.sql.catalyst.InternalRow]
          lr.data.foreach { r =>
            val k = types.zipWithIndex.map { case (dt, i) =>
              LakeTable.renderInlineKey(dt, r, i) }
            if (!seen.contains(k)) seen += k -> r.copy()
          }
          val inline = seen.size <= LakeTable.InlineKeyCap
          return EqDeleteMeta(markerFiles(proj, dir, Some(seen.values.toSeq)),
            ids, snapshotId,
            inlineKeys = if (inline) Some(seen.keys.toSeq) else None,
            inlineTypes =
              if (inline) Some(types.map(_.simpleString)) else None)
        case _ => ()
      }
    }
    EqDeleteMeta(markerFiles(proj.distinct(), dir, None), ids, snapshotId)
  }

  /** The marker parquet of one equality batch, written by the direct
    * writer (r17: no FileFormatWriter machinery — the marker files are
    * plain flat parquet either way); `driverRows` runs it on the
    * driver. An EMPTY key set still publishes one empty marker: every
    * batch consumer (eqBatchFrame, liveEqDeletes suffix grouping)
    * assumes paths is non-empty, exactly the invariant
    * FileFormatWriter's always-one-file behavior used to provide.
    */
  private def markerFiles(keys: DataFrame, dir: Path,
      driverRows: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]])
      : Seq[String] = {
    val written = LakeTable.writeViaTaskWriterRich(keys, dir, Seq.empty,
      Seq.empty, null, driverRows = driverRows).files.map(_._1).sorted
    if (written.nonEmpty) written
    else {
      val w = new graft.sources.LakeParquetDataWriter(dir.toString,
        keys.schema, Seq.empty, "empty")
      w.openEmpty()
      w.commit().asInstanceOf[graft.sources.LakeFilesCommit].files.map(_._1)
    }
  }

  /** The table's identifier fields resolved to their CURRENT names —
    * rename-proof because the metadata stores field ids. Empty when the
    * table declares no row identity.
    */
  def identifierFieldNames: Seq[String] =
    md.identifierFieldIds.map(id =>
      LakeTable.structPathOfId(md.currentSchema, id).map(_._1).getOrElse(
        throw new IllegalStateException(
          s"identifier field id $id not in current schema")))

  /** Key resolution shared by every keyed MoR verb: no keys → the
    * table's identifier fields (loud failure when none are declared);
    * explicit keys on an identity-declaring table must MATCH the
    * identity — otherwise two CDC writers using different keys would
    * silently produce diverging last-write-wins outcomes.
    */
  private[lake] def resolveKeys(keys: Seq[String], op: String): Seq[String] = {
    val ident = identifierFieldNames
    if (keys.isEmpty) {
      require(ident.nonEmpty,
        s"$op: no keys given and table ${md.database}.${md.table} declares " +
          "no identifier fields (set table property 'identifier-fields')")
      ident
    } else {
      require(ident.isEmpty || keys.toSet == ident.toSet,
        s"$op keys [${keys.mkString(", ")}] differ from the table's " +
          s"identifier fields [${ident.mkString(", ")}] — omit keys to " +
          "use the declared row identity")
      keys
    }
  }

  /** DELETE WHERE key IN (keys) — merge-on-read equality deletes:
    * writes only the key tuples, reads and rewrites NOTHING (contrast
    * position deletes, which scan to find row positions). The batch
    * deletes matching rows from every data file with a lower sequence
    * number at read time. O(keys) write cost at any table size — the
    * CDC/GDPR delete shape for 100 TB tables. The key frame's COLUMNS
    * are the key set, so identity-declaring tables refuse a frame
    * whose columns drift from the declared identity.
    */
  /** One CDC delta as ONE snapshot: an equality-delete batch for `keys`
    * plus the appended `rows`, both at the new snapshot's sequence —
    * the batch kills strictly OLDER rows with those keys, never the
    * rows written alongside it, so delete-then-insert semantics hold
    * within the single commit. A replayed changelog ordinal (or any
    * CDC frame's deletes+inserts) lands as one commit instead of two.
    * Blind write: retries on conflict like `upsertMoR`.
    */
  def applyDeltaMoR(spark: SparkSession, keys: DataFrame,
      rows: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "applyDeltaMoR")
    writeMoR(spark, Some(rows), Left(keys), None)
  }

  def deleteByKeysMoR(spark: SparkSession, keys: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "deleteByKeysMoR")
    writeMoR(spark, None, Left(keys), None)
  }

  /** Blind streaming upsert (the Flink/Iceberg CDC-sink shape): ONE
    * snapshot carries an equality-delete batch for the source keys
    * plus the source rows as new data files. The batch's sequence
    * equals the snapshot's, so it kills older rows with those keys but
    * not the rows written alongside it — last write wins per key, with
    * zero reads of the existing table at write time. At 100 TB that is
    * the difference between O(batch) and O(table) per commit.
    */
  def upsertMoR(spark: SparkSession, source: DataFrame,
      keys: Seq[String] = Seq.empty, streamBatchId: Option[Long] = None,
      streamId: Option[String] = None): SnapshotMeta = {
    val ks = resolveKeys(keys, "upsertMoR")
    requireUpsertKeys(source, ks)
    writeMoR(spark, Some(source), Right(ks), None, streamBatchId, streamId)
  }

  /** Touched-group publication (the incremental-MV maintenance shape):
    * ONE snapshot whose equality-delete batch strikes EVERY given key
    * — including groups whose recompute produced no surviving row —
    * while `source` re-adds the live groups. The batch's sequence
    * equals the snapshot's, so the markers kill older rows but never
    * the rows written alongside them. Equivalent to
    * `upsertMoR(source) + deleteByKeysMoR(deadKeys)` in HALF the
    * commits (one manifest write, one snapshot) and without computing
    * the dead set at all. `keys` may be a superset of the source's key
    * values; it must never miss one, or the stale row survives next to
    * its replacement.
    */
  def upsertWithDeletesMoR(spark: SparkSession, source: DataFrame,
      keys: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "upsertWithDeletesMoR")
    writeMoR(spark, Some(source), Left(keys), None)
  }

  /** An upsert SOURCE must physically carry every key — a top-level
    * column, or for dotted keys the full struct path. Accepting a
    * missing nested key would let Align null-fill the struct and the
    * batch would silently eq-delete every null-keyed row instead of
    * failing loudly like the top-level case.
    */
  private[lake] def requireUpsertKeys(source: DataFrame, keys: Seq[String]): Unit =
    require(keys.nonEmpty && keys.forall(k =>
      source.columns.contains(k) ||
        LakeTable.resolveStructPath(source.schema, k).isDefined),
      s"source must contain every key column: $keys")

  /** The upsert key columns of an aligned frame, one column per key —
    * dotted keys navigate into structs and come back aliased to their
    * dotted path, which `writeEqDeleteBatch` resolves against the
    * current schema.
    */
  private[lake] def keyColumns(aligned: DataFrame, keys: Seq[String]): DataFrame =
    aligned.select(keys.map(k =>
      (if (aligned.columns.contains(k)) col(s"`$k`") else col(k))
        .as(k)): _*)

  /** Row-level ops (CoW rewrite or position-delete MoR) assume every
    * live row is physically present in its data file; live equality
    * deletes break that. Materialize them first (compact). Loud guard,
    * not silent corruption.
    */
  private[lake] def requireNoLiveEqDeletes(op: String): Unit =
    require(LakeTable.liveEqDeletes(md.snapshots).isEmpty,
      s"$op with live equality deletes is unsupported — run compact() " +
        "(CALL system.compact) to materialize them first")

  /** DELETE FROM t WHERE predicate — Iceberg copy-on-write semantics:
    * only files that actually contain matching rows are rewritten
    * (without those rows); all other files survive untouched. The
    * commit is an "overwrite" snapshot listing the replaced files.
    *
    * Scale: candidate selection is one pruned scan (optionally
    * pre-narrowed by `prune`/`statsFilters` so only files whose
    * partition values / min-max stats can match are opened); the
    * rewrite touches only affected files. Rows where the predicate is
    * NULL are kept (SQL DELETE semantics). Returns None when nothing
    * matched — no empty snapshot is committed.
    */
  def delete(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("delete")
    val affected = affectedFiles(spark, predicate, prune, statsFilters)
    if (affected.isEmpty) None
    else {
      val kept0 = readFiles(spark, affected, md.currentSchema,
          LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
        .filter(!coalesce(predicate, lit(false)))
      // surviving rows are untouched — their lineage carries verbatim
      val kept = if (writesVectors) matLineage(kept0) else kept0
      Some(writeSnapshot(kept, operation = "overwrite",
        removedPaths = affected.map(_.path), lineage = writesVectors))
    }
  }

  /** DELETE with merge-on-read semantics (Iceberg v2 position deletes):
    * instead of rewriting every affected data file, commit small
    * parquet delete files of (file_path, pos) rows; reads anti-join
    * them out. The write cost is proportional to the MATCHED rows, not
    * the touched files — at 100 TB, deleting 0.1% of rows spread over
    * thousands of large files writes kilobytes instead of terabytes.
    * Positions already deleted by earlier commits are excluded, so the
    * per-file deleted-row counts stay exact (metadata-only COUNT(*)
    * subtracts them). Compaction (`compact`) folds deletes back into
    * data files and clears them.
    */
  def deleteMoR(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("deleteMoR")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    if (plannedFiles(prune, statsFilters).isEmpty) return None
    val matched = liveRowsWithPos(spark, prune, statsFilters)
      .filter(predicate)
    commitMoR(spark, matched, appended = None)
  }

  /** UPDATE with merge-on-read semantics: matching rows become position
    * deletes and their updated copies are appended — one snapshot, no
    * data-file rewrite. Same assignment semantics as `update` (every
    * RHS sees the pre-update row).
    */
  def updateMoR(spark: SparkSession, assignments: Map[String, Column],
      predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    val bad = assignments.keySet.filterNot(md.currentSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    requireNoLiveEqDeletes("updateMoR")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    if (plannedFiles(prune, statsFilters).isEmpty) return None
    // one materialization feeds both the delete positions and the
    // updated copies (localCheckpoint: reclaimed when the df drops)
    val matched = liveRowsWithPos(spark, prune, statsFilters,
      lineage = writesVectors)
      .filter(predicate).localCheckpoint()
    // a v3 updated copy is the SAME row: it materializes the matched
    // row's id and nulls its last-updated so inheritance re-stamps the
    // new file's sequence — identical semantics to the CoW update path
    val lineageSel: Seq[Column] =
      if (!writesVectors) Seq.empty
      else Seq(col("_row_id").as("_graft_row_id"),
        lit(null).cast(LongType).as("_graft_last_updated"))
    val updated = matched.select(md.currentSchema.fieldNames.toSeq.map { n =>
      assignments.get(n) match {
        case Some(value) => value.as(n)
        case None => col(s"`$n`")
      }
    } ++ lineageSel: _*)
    commitMoR(spark, matched,
      appended = Some(Align.keeping(updated, md.currentSchema,
        LakeTable.matLineageCols)),
      lineage = writesVectors)
  }

  /** MERGE with merge-on-read semantics: matched target rows become
    * position deletes plus (for onMatch="update") appended copies with
    * the source values; unmatched source rows append. Only the delete
    * files and the delta rows are written — no target file rewrite.
    */
  def mergeMoR(spark: SparkSession, source: DataFrame, keys: Seq[String],
      onMatch: String = "update",
      insertUnmatched: Boolean = true): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("mergeMoR")
    require(Seq("update", "delete", "keep").contains(onMatch),
      s"onMatch must be update|delete|keep, got '$onMatch'")
    require(keys.nonEmpty && keys.forall(source.columns.contains),
      s"source must contain every key column: $keys")
    val schema = md.currentSchema
    require(keys.forall(schema.fieldNames.contains),
      s"table must contain every key column: $keys")
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")

    val setCols = source.columns.filter(c =>
      schema.fieldNames.contains(c) && !keys.contains(c)).toSeq
    val srcKeyed = source.select(
      (keys.map(k => col(s"`$k`")) ++
        setCols.map(c => col(s"`$c`").as(s"_src_$c"))): _*)
    val keyCols = keys.map(k => col(s"`$k`"))
    // a driver-resident source (LakeTable.isLocalPlan) is checked on
    // the driver — collecting a LocalRelation runs no Spark job; the
    // refusal names the key as the groupBy's row would, count included
    val dupKey =
      if (LakeTable.isLocalPlan(source)) {
        val norm: Any => Any = {
          case d: Double if d == 0.0 => 0.0 // -0.0 groups with 0.0
          case f: Float if f == 0.0f => 0.0f
          case v => v
        }
        source.select(keyCols: _*).collect().toSeq
          .groupBy(r => r.toSeq.map(norm)).collectFirst {
            case (k, rs) if rs.size > 1 =>
              org.apache.spark.sql.Row.fromSeq(k :+ rs.size.toLong)
          }.toSeq
      } else srcKeyed.groupBy(keyCols: _*)
        .count().filter(col("count") > 1).limit(1).collect().toSeq
    require(dupKey.isEmpty,
      s"merge source has multiple rows for key ${dupKey.headOption}")

    // v3 lineage carries only through UPDATE copies — they ARE the
    // matched rows; deletes retire ids and inserts take fresh ones
    val carryIds = writesVectors && onMatch == "update"
    val matched =
      if (plannedFiles().isEmpty || onMatch == "keep") None
      else Some(liveRowsWithPos(spark, lineage = carryIds)
        .join(srcKeyed, keys, "inner").localCheckpoint())
    val updatedCopies = matched.filter(_ => onMatch == "update").map { m =>
      val lineageSel: Seq[Column] =
        if (!carryIds) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          lit(null).cast(LongType).as("_graft_last_updated"))
      Align.keeping(m.select(schema.fieldNames.toSeq.map { n =>
        if (setCols.contains(n)) col(s"`_src_$n`").as(n) else col(s"`$n`")
      } ++ lineageSel: _*), schema, LakeTable.matLineageCols)
    }
    // the matched keys ARE the target's keys among the source's (inner
    // join vs. left_anti on the same keys; NULL keys match neither), so
    // the insert side anti-joins the checkpointed match instead of a
    // second full scan of the target. Spark cannot size a checkpoint;
    // the match is bounded by the source, so it broadcasts whenever the
    // source would — the insert rows keep the source's partitioning (a
    // shuffle join would re-partition them, and the write's file count
    // with them)
    val inserts = if (!insertUnmatched) None else {
      val targetKeys = matched match {
        case Some(m) if source.queryExecution.optimizedPlan.stats.sizeInBytes <=
            org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold =>
          broadcast(m.select(keyCols: _*))
        case Some(m) => m.select(keyCols: _*)
        case None => read(spark).select(keyCols: _*)
      }
      Some(Align(source.join(targetKeys, keys, "left_anti"), schema))
    }
    // allowMissingColumns: inserted rows carry no materialized lineage
    // — their null cells inherit fresh ids from the file's stamped
    // range, v3's mixed-file inheritance rule
    val appended = (updatedCopies.toSeq ++ inserts.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
    matched match {
      case Some(m) => commitMoR(spark, m, appended, lineage = carryIds)
      // insert-only merge: the frame is an anti-join against the
      // TARGET's keys — stale after a concurrent commit, so the
      // conflict must surface, never retry (a retry could re-insert a
      // key a racer just added, breaking insert-if-absent)
      case None => appended.map(df =>
        writeSnapshot(df, operation = "append", retryConflicts = false))
    }
  }

  /** Live rows under the current schema (narrowed by `prune` /
    * `statsFilters` exactly as [[read]]), tagged with `_graft_dfile` /
    * `_graft_dpos` — the normalized data-file path and file-absolute
    * row position, taken from the connector's `_graft_file` /
    * `_graft_pos` metadata columns — the shared front half of every
    * MoR row-level op. Existing position deletes and deletion vectors
    * apply inside the reader ([[graft.sources.LakeSource.engineRead]]),
    * so matched rows never re-match a deleted position. With
    * `lineage` (v3 update paths), each row additionally carries its
    * `_row_id` (materialized column when the file has one, else
    * `firstRowId + position`) so an updated copy can preserve the
    * row's identity through the delete+insert.
    */
  private[graft] def liveRowsWithPos(spark: SparkSession,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty,
      lineage: Boolean = false): DataFrame = {
    import graft.sources.LakeSource.{FileMetaCol, PosMetaCol, RowIdMetaCol}
    val rows = graft.sources.LakeSource.engineRead(spark, this, prune, None,
      statsFilters, metaCols = true)
    // declared as the parquet stack declared them (a nullable path, no
    // metadata-column tags): the delete files written from these
    // columns keep their layout
    val path = org.apache.spark.sql.GraftPlanBridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(
        org.apache.spark.sql.GraftPlanBridge.expression(col(FileMetaCol))))
    rows.select(rows.columns.toSeq.map(c => col(s"`$c`")) ++
      Seq(path.as("_graft_dfile", Metadata.empty),
        col(PosMetaCol).as("_graft_dpos", Metadata.empty)) ++
      (if (lineage) Seq(col(RowIdMetaCol).as("_row_id", Metadata.empty))
       else Nil): _*)
  }

  /** Commit one merge-on-read snapshot: `matched` rows (tagged with
    * file/pos) become position-delete files; `appended`, when present,
    * is written as new data files in the SAME snapshot (operation
    * "delete" — replay adds the files and accumulates the deletes).
    * Returns None and leaves nothing behind when no row matched.
    */
  /** True when the table writes v3 deletion vectors instead of
    * positional delete parquet — keyed off `format-version=3`,
    * mirroring Iceberg's rule that v3 tables MUST use deletion
    * vectors (the cow/mor choice stays on `write.*.mode`, its
    * Iceberg meaning).
    */
  private[lake] def writesVectors: Boolean =
    md.formatVersion >= 3 || md.properties.get("format-version")
      .exists(_.trim.toIntOption.exists(_ >= 3))

  private[lake] def commitMoR(spark: SparkSession, matched: DataFrame,
      appended: Option[DataFrame],
      lineage: Boolean = false): Option[SnapshotMeta] = {
    if (writesVectors)
      return commitMoRVector(spark, matched, appended, lineage)
    val snapshotId = md.snapshots.map(_.id).foldLeft(0L)(math.max) + 1
    val delDir = dataDir.resolve(
      s"deletes-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
    // r17: per-task direct write (no FileFormatWriter machinery).
    // r18: the per-file victim counts ride the write tasks' commit
    // messages (countOrdinal = the file_path column) — the read-back
    // count job over the just-written delete files is gone; same
    // normalize-then-sum the groupBy computed.
    val res = LakeTable.writeViaTaskWriterRich(
      matched.select(col("_graft_dfile").as("file_path"),
        col("_graft_dpos").as("pos")),
      delDir, Seq.empty, Seq.empty, null, countOrdinal = 0)
    val written = res.files.map(_._1).sorted
    val counts: Map[String, Long] = res.counts.toSeq
      .groupMapReduce { case (p, _) => LakeTable.normalizePath(p) }(
        _._2)(_ + _)
    def cleanup(dir: Path): Unit =
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.sorted(java.util.Comparator.reverseOrder()).forEach(p =>
          Files.delete(p))
      }
    if (counts.isEmpty) { cleanup(delDir); return None }
    val newFiles = appended match {
      case None => Seq.empty
      case Some(df) =>
        val outDir = dataDir.resolve(s"snap-$snapshotId-" +
          java.util.UUID.randomUUID().toString.take(8))
        writeDataFiles(df.drop("_graft_dfile", "_graft_dpos"), outDir)
    }
    val snap = SnapshotMeta(snapshotId, newFiles, md.currentSchemaId,
      operation = "delete", deletePaths = written.map(_.toString),
      deleteCounts = counts, timestampMs = System.currentTimeMillis())
    commit(md.copy(snapshots = md.snapshots :+ snap))
    Some(snap)
  }

  /** Aggregate newly-deleted (file_path, pos) PAIRS — which must
    * exclude every already-deleted position — into one container of
    * full+delta vector blobs per affected file: the executors build
    * one Roaring bitmap per file (the shuffle carries pairs, the
    * driver collects only O(affected files) serialized bitmaps), the
    * driver merges each with the file's previous vector and any
    * legacy positional parquet state, and writes ONE container.
    * Returns the DvMeta entries plus the newly-deleted counts, or
    * None when no pair survived.
    */
  private[lake] def writeVectorContainer(spark: SparkSession, pairs: DataFrame,
      snapshotId: Long): Option[(Seq[DvMeta], Map[String, Long])] = {
    import org.roaringbitmap.longlong.Roaring64Bitmap
    import spark.implicits._
    def bitmapPerFile(df: DataFrame): Array[(String, Array[Byte])] = df
      .select(col("file_path").cast("string"), col("pos").cast("long"))
      .as[(String, Long)]
      .groupByKey(t => LakeTable.normalizePath(t._1))
      .mapGroups { (path, it) =>
        val bm = new Roaring64Bitmap()
        it.foreach(t => bm.addLong(t._2))
        (path, DeletionVectors.serialize(bm))
      }.collect()
    val newPos = bitmapPerFile(pairs)
    if (newPos.isEmpty) return None
    val live = LakeTable.liveDeletes(md.snapshots)
    val affected = newPos.map(_._1).toSet
    // transition case: an affected file still carries v2 positional
    // parquet state — fold those positions into the new vector so the
    // REPLACE semantics lose nothing (read once, per affected file)
    val legacyByFile: Map[String, Roaring64Bitmap] = {
      val legacyPaths = affected.toSeq
        .flatMap(p => live.get(p).toSeq.filter(_.dv.isEmpty).flatMap(_.paths))
        .distinct
      if (legacyPaths.isEmpty) Map.empty
      else bitmapPerFile(spark.read.schema(LakeTable.DeleteFileSchema)
          .parquet(legacyPaths: _*)
          .filter(col("file_path").isin(affected.toSeq: _*)))
        .map { case (p, b) => p -> DeletionVectors.deserialize(b) }
        .toMap
    }
    val blobs = newPos.toSeq.sortBy(_._1).map { case (p, deltaBytes) =>
      val delta = DeletionVectors.deserialize(deltaBytes)
      val prevRows = live.get(p).map(_.rows).getOrElse(0L)
      val full = new Roaring64Bitmap()
      full.or(delta)
      live.get(p).flatMap(_.dv).foreach(d =>
        full.or(DeletionVectors.cached(d.dvPath, d.offset, d.length)))
      legacyByFile.get(p).foreach(full.or)
      // the pairs contract above: every pair is NEWLY deleted, so the
      // union must be exactly additive, or a resurrect/double-delete
      // bug is in flight
      require(full.getLongCardinality ==
          prevRows + delta.getLongCardinality,
        s"deletion-vector merge for $p is not additive: previous " +
          s"$prevRows + new ${delta.getLongCardinality} != merged " +
          s"${full.getLongCardinality}")
      p -> ((full, delta))
    }
    val dvPath = dataDir.resolve(s"deletes-$snapshotId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".gdv")
    Files.createDirectories(dataDir)
    val dvMetas = DeletionVectors.writeContainer(dvPath, blobs)
    // crash window under test (DvSpec torn-container recovery): a
    // death HERE strands the container unreferenced — readers never
    // see it, the orphan sweep collects it, a retry recommits
    LakeTable.faultPoint("post-dv-write-pre-commit")
    val counts = blobs.map { case (p, (_, delta)) =>
      p -> delta.getLongCardinality }.toMap
    Some((dvMetas, counts))
  }

  /** Vector flavor of [[commitMoR]] (`format-version=3` — Iceberg
    * v3's deletion-vector model): the matched positions become
    * full+delta vector blobs via [[writeVectorContainer]]. Each
    * file's new vector REPLACES its entire earlier delete state, so
    * the live structures per file stay O(1) across any number of
    * delete commits — v2's accumulating delete-file list is the read
    * amplification v3 removed.
    */
  private[lake] def commitMoRVector(spark: SparkSession, matched: DataFrame,
      appended: Option[DataFrame],
      lineage: Boolean = false): Option[SnapshotMeta] = {
    val snapshotId = md.snapshots.map(_.id).foldLeft(0L)(math.max) + 1
    val pairs = matched.select(col("_graft_dfile").as("file_path"),
      col("_graft_dpos").as("pos"))
    writeVectorContainer(spark, pairs, snapshotId) match {
      case None => None
      case Some((dvMetas, counts)) =>
        val newFiles = appended match {
          case None => Seq.empty
          case Some(df) =>
            val outDir = dataDir.resolve(s"snap-$snapshotId-" +
              java.util.UUID.randomUUID().toString.take(8))
            val fs = writeDataFiles(
              df.drop("_graft_dfile", "_graft_dpos"), outDir)
            // updated copies physically wrote _graft_row_id /
            // _graft_last_updated — flag them so lineage reads consume
            // the materialized ids instead of minting fresh ones
            if (lineage) fs.map(_.copy(lineageCols = true)) else fs
        }
        val snap = SnapshotMeta(snapshotId, newFiles, md.currentSchemaId,
          operation = "delete", deleteCounts = counts,
          timestampMs = System.currentTimeMillis(), dvs = dvMetas)
        commit(md.copy(snapshots = md.snapshots :+ snap))
        Some(snap)
    }
  }

  /** UPDATE t SET assignments WHERE predicate — copy-on-write: affected
    * files are rewritten with the assignments applied to matching rows,
    * every other row copied through unchanged. Assignment values may
    * reference any current-schema column.
    */
  def update(spark: SparkSession, assignments: Map[String, Column],
      predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty): Option[SnapshotMeta] = {
    val bad = assignments.keySet.filterNot(md.currentSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    requireNoLiveEqDeletes("update")
    val affected = affectedFiles(spark, predicate, prune, statsFilters)
    if (affected.isEmpty) None
    else {
      val cond = coalesce(predicate, lit(false))
      val base = readFiles(spark, affected, md.currentSchema,
        LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
      // one projection, every RHS evaluated against the PRE-update row
      // (SQL UPDATE semantics: SET a=b, b=a swaps; sequential
      // withColumn would leak updated values into later assignments
      // in unordered-Map iteration order)
      // an updated row keeps its _row_id (it is the same row) and
      // nulls its last-updated so inheritance stamps the new sequence;
      // both computed in the SAME select so `cond` sees pre-update
      // values
      val lineageSel: Seq[Column] =
        if (!writesVectors) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          when(cond, lit(null).cast(LongType))
            .otherwise(col("_last_updated_sequence_number"))
            .as("_graft_last_updated"))
      val updated = base.select(md.currentSchema.fieldNames.toSeq.map { n =>
        assignments.get(n) match {
          case Some(value) => when(cond, value).otherwise(col(s"`$n`")).as(n)
          case None => col(s"`$n`")
        }
      } ++ lineageSel: _*)
      Some(writeSnapshot(
        Align.keeping(updated, md.currentSchema, LakeTable.matLineageCols),
        operation = "overwrite", removedPaths = affected.map(_.path),
        lineage = writesVectors))
    }
  }

  /** MERGE INTO t USING source ON keys — the classic upsert, Iceberg
    * copy-on-write style:
    *   - matched + `onMatch="update"`: target row's columns that also
    *     exist in `source` (keys aside) take the source values
    *   - matched + `onMatch="delete"`: target row removed
    *   - matched + `onMatch="keep"`:   target row unchanged
    *   - `insertUnmatched`: source rows matching no target key are
    *     aligned to the table schema and appended
    *
    * Only files containing matched keys are rewritten. The join is left
    * unhinted: Catalyst auto-broadcasts a small source delta, AQE picks
    * a shuffle join (with skew handling) for a large one.
    */
  def merge(spark: SparkSession, source: DataFrame, keys: Seq[String],
      onMatch: String = "update",
      insertUnmatched: Boolean = true): Option[SnapshotMeta] = {
    requireNoLiveEqDeletes("merge")
    require(Seq("update", "delete", "keep").contains(onMatch),
      s"onMatch must be update|delete|keep, got '$onMatch'")
    require(keys.nonEmpty && keys.forall(source.columns.contains),
      s"source must contain every key column: $keys")
    val schema = md.currentSchema
    require(keys.forall(schema.fieldNames.contains),
      s"table must contain every key column: $keys")

    // columns the update copies from source: shared names minus keys
    val setCols = source.columns.filter(c =>
      schema.fieldNames.contains(c) && !keys.contains(c)).toSeq
    val srcKeyed = source.select(
      (keys.map(k => col(s"`$k`")) ++
        setCols.map(c => col(s"`$c`").as(s"_src_$c")) :+
        lit(true).as("_src_matched")): _*)

    // SQL MERGE cardinality rule: a target row may match at most one
    // source row — duplicate source keys would silently duplicate
    // target rows in the rewrite (and which values win would be
    // nondeterministic), so refuse them up front
    val dupKey = srcKeyed.groupBy(keys.map(k => col(s"`$k`")): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    require(dupKey.isEmpty,
      s"merge source has multiple rows for key ${dupKey.headOption}")

    val keyPred = keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _)
    val affected = affectedFiles(spark,
      predicate = keyPred, matchSource = Some(srcKeyed -> keys))

    val rewritten = if (affected.isEmpty) None else {
      val joined = readFiles(spark, affected, schema,
          LakeTable.liveDeletes(md.snapshots), lineage = writesVectors)
        .join(srcKeyed, keys, "left")
      val matchedCol = coalesce(col("_src_matched"), lit(false))
      val applied = onMatch match {
        case "delete" => joined.filter(!matchedCol)
        case "keep" => joined
        case "update" => setCols.foldLeft(joined) { (d, c) =>
          d.withColumn(c,
            when(matchedCol, col(s"`_src_$c`")).otherwise(col(s"`$c`")))
        }
      }
      // matched-updated rows keep their id, null their last-updated
      // (inherit the new sequence); kept rows carry both verbatim
      val lineageSel: Seq[Column] =
        if (!writesVectors) Seq.empty
        else Seq(col("_row_id").as("_graft_row_id"),
          (if (onMatch == "update")
            when(matchedCol, lit(null).cast(LongType))
              .otherwise(col("_last_updated_sequence_number"))
          else col("_last_updated_sequence_number"))
            .as("_graft_last_updated"))
      Some(applied.select(
        schema.fieldNames.toSeq.map(n => col(s"`$n`")) ++ lineageSel: _*))
    }

    val inserts = if (!insertUnmatched) None else {
      val targetKeys = read(spark).select(keys.map(k => col(s"`$k`")): _*)
      val ins = Align(source.join(targetKeys, keys, "left_anti"), schema)
      // inserted rows are NEW: null lineage cells inherit fresh ids
      // from the written file's assigned range (v3 inheritance)
      Some(if (!writesVectors) ins else ins
        .withColumn("_graft_row_id", lit(null).cast(LongType))
        .withColumn("_graft_last_updated", lit(null).cast(LongType)))
    }

    val newData = (rewritten.toSeq ++ inserts.toSeq)
      .reduceOption(_.unionByName(_))
    newData.map(df => writeSnapshot(df, operation = "overwrite",
      removedPaths = affected.map(_.path), lineage = writesVectors))
  }

  /** Files whose rows could be touched by a row-level op: metadata
    * pruning first (partition values + min/max stats), then one scan
    * that tags every row with its source file and keeps the distinct
    * file names of rows matching `predicate` (and, for merge, joining a
    * source key). Only those files get rewritten.
    */
  private[lake] def affectedFiles(spark: SparkSession, predicate: Column,
      prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty,
      matchSource: Option[(DataFrame, Seq[String])] = None,
      candidatesOverride: Option[Seq[DataFileMeta]] = None)
      : Seq[DataFileMeta] = {
    // branch CoW passes its own (branch-view) candidate set; the main
    // path derives it from the committed live files
    val candidates = candidatesOverride.getOrElse(LakeTable.matchingFiles(
      LakeTable.liveFiles(md.snapshots, prune, md.currentSchema, statsFilters),
      md.currentSchema, prune, statsFilters, md.schemaOpt))
    if (candidates.isEmpty) return Seq.empty
    val tagged = candidates.groupBy(_.schemaId).map { case (schemaId, group) =>
      val fileSchema = md.schemaById(schemaId)
      spark.read
        .schema(Reconcile.clean(fileSchema).asInstanceOf[StructType])
        .parquet(group.map(_.path): _*)
        .withColumn("_graft_file", input_file_name())
        .select(Reconcile.projection(fileSchema, md.currentSchema) :+
          col("_graft_file"): _*)
    }.reduce(_.unionByName(_)).filter(predicate)
    val matchedRows = matchSource match {
      case Some((src, keys)) => tagged.join(src, keys, "left_semi")
      case None => tagged
    }
    val hit = matchedRows.select("_graft_file").distinct()
      .collect().map(r => LakeTable.normalizePath(r.getString(0))).toSet
    candidates.filter(f => hit(LakeTable.normalizePath(f.path)))
  }
}
