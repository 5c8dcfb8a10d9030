package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema._

/** Named refs (tags/branches), write-audit-publish staging, and the
  * branch write/read/merge surface of [[LakeTable]] — pure extraction,
  * no behavior change (state and commit machinery live in the class;
  * this trait is same-package-private like the members it carries).
  */
private[lake] trait LakeTableRefs { self: LakeTable =>

  /** Create (or move) a named snapshot pointer — Iceberg's refs. A
    * `tag` marks an immutable release point ("training-set-2026-08");
    * a `branch` is a movable head the caller advances explicitly.
    * Metadata-only: one map entry, no data touched.
    */
  def createRef(name: String, snapshotId: Long,
      kind: String = "tag"): String = {
    require(Seq("tag", "branch").contains(kind),
      s"ref kind must be tag|branch, got '$kind'")
    require(md.snapshots.exists(_.id == snapshotId),
      s"ref '$name': no snapshot $snapshotId " +
        s"(have ${md.snapshots.map(_.id).mkString(", ")})")
    require(name.nonEmpty && scala.util.Try(name.toLong).isFailure,
      s"ref name '$name' would be ambiguous with a snapshot id")
    commit(md.copy(refs = md.refs + (name -> RefMeta(snapshotId, kind))))
  }

  def dropRef(name: String): String = {
    val ref = md.refs.getOrElse(name,
      throw new IllegalArgumentException(s"no such ref '$name'"))
    // dropping a writable branch takes its unpublished staged commits
    // with it (files become orphans) — leaving them would strand the
    // snapshots and ghost-resurrect them under a re-created branch
    val purge: SnapshotMeta => Boolean =
      if (ref.kind == "branch" && ref.baseSnapshotId.isDefined)
        s => s.wapId.contains(branchMarker(name))
      else _ => false
    commit(md.copy(refs = md.refs - name,
      staged = md.staged.filterNot(purge)))
    name
  }

  /** Resolve a ref name to its pinned snapshot id. */
  def refSnapshot(name: String): Option[Long] =
    md.refs.get(name).map(_.snapshotId)

  /** Roll the table back so `snapshotId` is the latest snapshot
    * (Iceberg's rollback_to_snapshot): later snapshots leave the
    * metadata — their data files stay on disk as orphans until
    * removeOrphanFiles ages them out, so a rollback is instant and
    * the rolled-back state is still recoverable from older metadata
    * versions. Refs pointing past the rollback point are dropped
    * (they would dangle). Returns the number of snapshots removed.
    */
  def rollbackTo(snapshotId: Long): Int = {
    require(md.snapshots.exists(_.id == snapshotId),
      s"rollback: no snapshot $snapshotId " +
        s"(have ${md.snapshots.map(_.id).mkString(", ")})")
    val (keep, dropped) = md.snapshots.partition(_.id <= snapshotId)
    if (dropped.isEmpty) return 0
    // a ref survives if its anchor is still in the kept history: tags
    // anchor at snapshotId; writable branches anchor at their fork
    // BASE (their head may legitimately be a staged snapshot). Dropped
    // writable branches take their unpublished staged commits with
    // them — a stranded branch-tagged snapshot would leak forever and
    // ghost-resurrect under a re-created branch of the same name.
    val (keptRefs, droppedRefs) = md.refs.partition { case (_, r) =>
      val anchor = r.baseSnapshotId.getOrElse(r.snapshotId)
      keep.exists(_.id == anchor)
    }
    val deadMarkers = droppedRefs.collect {
      case (n, r) if r.kind == "branch" && r.baseSnapshotId.isDefined =>
        branchMarker(n)
    }.toSet
    commit(md.copy(snapshots = keep, refs = keptRefs,
      staged = md.staged.filterNot(s =>
        s.wapId.exists(deadMarkers.contains))))
    dropped.size
  }

  /** Stage an append without making it visible: the snapshot is
    * committed into the metadata's `staged` list (so its files are
    * referenced, not orphans) but no read/time-travel/CDC path sees it
    * until `publishStaged`. Mirrors Iceberg's write-audit-publish flow
    * (`spark.wap.id` + `cherrypick_snapshot`); the reference has no
    * equivalent — engine extension.
    */
  def appendStaged(df: DataFrame, wapId: String): SnapshotMeta = {
    require(wapId.nonEmpty, "wapId must be non-empty")
    require(!wapId.startsWith("branch:"),
      "the 'branch:' wap-id prefix is reserved for branch commits " +
        "(use appendToBranch)")
    require(!md.staged.exists(_.wapId.contains(wapId)),
      s"wap id '$wapId' already staged")
    val aligned = Align(df, md.currentSchema)
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val snapshotId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val outDir = dataDir.resolve(
      s"snap-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
    val files = writeDataFiles(aligned, outDir)
    val snap = SnapshotMeta(snapshotId, files, md.currentSchemaId,
      operation = "staged-append",
      timestampMs = System.currentTimeMillis(), wapId = Some(wapId))
    commit(md.copy(staged = md.staged :+ snap))
    snap
  }

  def stagedSnapshot(wapId: String): Option[SnapshotMeta] =
    md.staged.find(_.wapId.contains(wapId))

  /** Audit read: the current live table plus the staged snapshot's
    * rows — what the table WOULD look like if `wapId` were published
    * now. Other staged snapshots stay invisible.
    */
  def readStaged(spark: SparkSession, wapId: String): DataFrame = {
    val snap = stagedSnapshot(wapId).getOrElse(
      throw new IllegalArgumentException(s"no staged snapshot '$wapId'"))
    // staged files carry no explicit seq — stamp the staged snapshot's
    // own id so live equality batches (seq < staged id) apply to the
    // LIVE rows but not to the staged batch itself, exactly as they
    // will after publish
    readPinned(spark,
      LakeTable.liveFiles(md.snapshots) ++
        snap.files.map(f => if (f.seq >= 0) f else f.copy(seq = snap.id)),
      LakeTable.liveDeletes(md.snapshots),
      LakeTable.liveEqDeletes(md.snapshots))
  }

  /** Publish a staged snapshot: cherry-pick its files onto the head as
    * a fresh "append" snapshot (new id, commit-time timestamp — the
    * history stays monotonic even if other writes landed since the
    * stage). The wap id is carried for lineage; CDC/incremental readers
    * see the rows at publish time, matching Iceberg's
    * `cherrypick_snapshot` semantics.
    */
  def publishStaged(wapId: String): SnapshotMeta = {
    require(!wapId.startsWith("branch:"),
      "branch commits publish via fastForward, not publish_wap " +
        "(a branch may hold several commits; publish_wap moves one)")
    val snap = stagedSnapshot(wapId).getOrElse(
      throw new IllegalArgumentException(s"no staged snapshot '$wapId'"))
    require(snap.schemaId == md.currentSchemaId,
      s"staged snapshot '$wapId' was written under schema ${snap.schemaId}; " +
        s"table is now at ${md.currentSchemaId} — re-stage after evolution")
    val newId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val published = snap.copy(id = newId, operation = "append",
      timestampMs = System.currentTimeMillis())
    commit(md.copy(snapshots = md.snapshots :+ published,
      staged = md.staged.filterNot(_.wapId.contains(wapId))))
    published
  }

  /** Drop a staged snapshot without publishing. Its data files become
    * orphans (removed by `removeOrphanFiles` once aged). Returns the
    * number of data files orphaned.
    */
  def discardStaged(wapId: String): Int = {
    require(!wapId.startsWith("branch:"),
      "branch commits are discarded via discardBranch, not discard_wap")
    val snap = stagedSnapshot(wapId).getOrElse(
      throw new IllegalArgumentException(s"no staged snapshot '$wapId'"))
    commit(md.copy(staged = md.staged.filterNot(_.wapId.contains(wapId))))
    snap.files.size
  }

  // ---- writable branches (Iceberg branch write + fast-forward) --------

  /** Branch commits are staged snapshots tagged `branch:<name>`; the
    * branch ref tracks its head and the main snapshot it forked from.
    * Reads overlay the branch commits on the frozen base state;
    * fast-forward publishes them onto main iff main hasn't moved —
    * the nightly-build isolation pattern without copying any data.
    */
  private[lake] def branchMarker(name: String) = s"branch:$name"

  private[lake] def branchSnaps(name: String): Seq[SnapshotMeta] =
    md.staged.filter(_.wapId.contains(branchMarker(name))).sortBy(_.id)

  def createBranch(name: String): RefMeta = {
    require(name.nonEmpty && scala.util.Try(name.toLong).isFailure,
      s"branch name '$name' would be ambiguous with a snapshot id")
    require(!md.refs.contains(name), s"ref '$name' already exists")
    require(branchSnaps(name).isEmpty,
      s"stale staged commits tagged 'branch:$name' exist — a new branch " +
        "must not adopt a dead branch's unpublished work")
    val head = md.snapshots.map(_.id).foldLeft(0L)(math.max)
    val ref = RefMeta(head, "branch", baseSnapshotId = Some(head))
    commit(md.copy(refs = md.refs + (name -> ref)))
    ref
  }

  private[lake] def branchRef(name: String): RefMeta =
    md.refs.get(name) match {
      case Some(r) if r.kind == "branch" && r.baseSnapshotId.isDefined => r
      case Some(r) if r.kind == "branch" => throw new IllegalArgumentException(
        s"ref '$name' is a pointer branch (createRef); writable branches " +
          "are created with createBranch")
      case Some(r) => throw new IllegalArgumentException(
        s"ref '$name' is a ${r.kind}, not a writable branch")
      case None => throw new IllegalArgumentException(s"no branch '$name'")
    }

  def appendToBranch(df: DataFrame, name: String): SnapshotMeta = {
    branchRef(name)
    val aligned = Align(df, md.currentSchema)
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val provisionalId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val outDir = dataDir.resolve(
      s"snap-$provisionalId-${java.util.UUID.randomUUID().toString.take(8)}")
    stageBranchSnapshot(name, writeDataFiles(aligned, outDir),
      md.currentSchemaId)
  }

  /** The branch view: main AS OF the fork base, overlaid with the
    * branch's own commits — writes to main after the fork stay
    * invisible (that isolation is the point of branching).
    *
    * Branch commits are RE-SEQUENCED above the fork base in commit
    * order — exactly the stamping `fastForward` applies at publish —
    * so the view always equals the state publishing would produce
    * (write-AUDIT-publish: the audit must show the publish result).
    * Without this, staged ids interleave with main's post-fork
    * snapshot ids and a rebased branch's eq-delete would skip main
    * rows committed after it was staged, then delete them anyway at
    * publish. Re-sequencing keeps branch MoR batches newer than every
    * visible file (they supersede base rows and earlier branch rows,
    * never rows written alongside them) and keeps main's eq-deletes
    * older than branch rows — blind-write last-wins, before and after
    * publish alike.
    */
  def readBranch(spark: SparkSession, name: String): DataFrame = {
    val ref = branchRef(name)
    val base = ref.baseSnapshotId.get
    val visible = md.snapshots.filter(_.id <= base)
    val (files, eqs) = LakeTable.resequenceOverlay(base, branchSnaps(name))
    // staged copy-on-write commits rewrite files INSIDE the branch:
    // drop their inputs from the combined set. A flat subtraction is
    // exact — a CoW only ever removes files visible at its staging
    // time, and replacement files get fresh UUID paths.
    val cowRemoved = branchSnaps(name).flatMap(_.removedPaths)
      .map(LakeTable.normalizePath).toSet
    readPinned(spark,
      (LakeTable.liveFiles(visible) ++ files)
        .filterNot(f => cowRemoved(LakeTable.normalizePath(f.path))),
      LakeTable.liveDeletes(visible),
      LakeTable.liveEqDeletes(visible) ++ eqs)
  }

  /** Merge-on-read DELETE on a branch: stage an equality-delete batch
    * tagged to the branch — O(keys) write cost, zero reads, exactly
    * `deleteByKeysMoR` but invisible to main until publish. The branch
    * stops being append-only, which is fine: publish re-stamps the
    * batch's sequence, so post-rebase semantics stay append/last-wins
    * per key (see `rebaseBranch`).
    */
  def deleteFromBranchMoR(spark: SparkSession, name: String,
      keys: DataFrame): SnapshotMeta = {
    resolveKeys(keys.columns.toSeq, "deleteFromBranchMoR")
    writeMoR(spark, None, Left(keys), Some(name))
  }

  /** Blind merge-on-read upsert on a branch: one staged snapshot
    * carries the source rows plus an equality-delete batch for their
    * keys (the batch's sequence equals the snapshot's, so it kills
    * older rows with those keys but not the rows written alongside
    * it) — `upsertMoR` under branch isolation, O(batch) at any table
    * size.
    */
  def upsertToBranchMoR(spark: SparkSession, name: String,
      source: DataFrame, keys: Seq[String] = Seq.empty): SnapshotMeta = {
    val ks = resolveKeys(keys, "upsertToBranchMoR")
    requireUpsertKeys(source, ks)
    writeMoR(spark, Some(source), Right(ks), Some(name))
  }

  /** Shared core of the four blind MoR write verbs (delete/upsert ×
    * main/branch): allocate the next snapshot id, write the key batch
    * (given directly for deletes, derived from the aligned source for
    * upserts) plus the upsert's data files, and commit — onto main, or
    * staged under the branch marker with the branch head advanced.
    * One body means concurrency checks, sequencing, and key
    * validation cannot diverge between the main and branch forms.
    *
    * Commit conflicts RETRY like plain appends (reload + fresh id +
    * re-stamped batch sequence + recommit — no data rewrite): blind
    * writes are read-independent by contract — "these keys die / these
    * rows win as of my commit" — so landing after a concurrent commit
    * is exactly the documented last-write-wins semantic. The multi-
    * writer CDC-sink shape depends on this. Stream-replay upserts
    * (streamBatchId) opt out: their idempotence bookkeeping must
    * observe the conflict. One retry hazard is re-checked after every
    * reload: a concurrent evolution may have dropped a key field,
    * which would orphan the batch — surfaced, not committed.
    */
  private[lake] def writeMoR(spark: SparkSession, source: Option[DataFrame],
      keys: Either[DataFrame, Seq[String]], branch: Option[String],
      streamBatchId: Option[Long] = None,
      streamId: Option[String] = None): SnapshotMeta = {
    val retriable = streamBatchId.isEmpty
    // catch up FIRST: alignment, key derivation, the recorded write
    // schema, and the branch-ref check must all observe ONE schema —
    // the same stale-consistency invariant the append path keeps by
    // capturing everything BEFORE its reload (either order is sound;
    // mixing them is not)
    if (currentHintVersion() != loadedVersion) {
      if (retriable) reload()
      else throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    }
    branch.foreach(branchRef)
    val aligned = source.map(Align(_, md.currentSchema))
    // the files'/batch's true write schema, captured before any
    // further reload — reads reconcile by id per schema version
    val schemaIdAtWrite = md.currentSchemaId
    val provisionalId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    val batch0 = writeEqDeleteBatch(
      keys.fold(identity, ks => keyColumns(aligned.get, ks)), provisionalId)
    val files = aligned.map { a =>
      writeDataFiles(a, dataDir.resolve(
        s"snap-$provisionalId-${java.util.UUID.randomUUID().toString.take(8)}"))
    }.getOrElse(Seq.empty)
    val op = (source.isDefined, branch.isDefined) match {
      case (true, true) => "staged-upsert"
      case (true, false) => "upsert"
      case (false, true) => "staged-delete"
      case (false, false) => "delete"
    }
    retryingCommit(retriable,
      build = snapshotId => SnapshotMeta(snapshotId, files,
        schemaIdAtWrite, operation = op, streamBatchId = streamBatchId,
        streamId = streamId, timestampMs = System.currentTimeMillis(),
        wapId = branch.map(branchMarker),
        eqDeletes = Seq(batch0.copy(seq = snapshotId))),
      apply = snap => branch match {
        case Some(b) =>
          val ref = branchRef(b)
          md.copy(staged = md.staged :+ snap,
            refs = md.refs + (b -> ref.copy(snapshotId = snap.id)))
        case None => md.copy(snapshots = md.snapshots :+ snap)
      },
      afterReload = e => {
        // a concurrent evolution that dropped a key field would
        // orphan the batch at read time — and no amount of retrying
        // can fix it, so say that, not "reload and retry"
        if (!batch0.fieldIds.forall(id =>
          LakeTable.structPathOfId(md.currentSchema, id).isDefined))
          throw new IllegalStateException(
            "an equality-delete key column was dropped concurrently; " +
              "re-derive the keys under the new schema", e)
        // a branch commit staged under an outdated schema could never
        // fast-forward (publish checks schema equality) — surface the
        // conflict so the caller re-stages under the new schema
        if (branch.isDefined && md.currentSchemaId != schemaIdAtWrite)
          throw e
      })
  }

  /** Copy-on-write DELETE on a branch: the affected files of the
    * BRANCH VIEW (fork-base files plus earlier branch commits) are
    * rewritten without the matching rows and staged as one
    * "staged-cow" snapshot whose `removedPaths` are exactly the
    * rewritten inputs — the branch-scoped form of `delete`. Publish is
    * REBASE-CHECKED: `fastForward` verifies every rewritten input is
    * still live at publish time (a compaction that moved files under
    * the branch would make the baked-in rewrite stale) and
    * `rebaseBranch` refuses branches carrying CoW commits — unlike the
    * blind MoR verbs, a file rewrite cannot be carried over a moved
    * base. Iceberg's cherry-pick of overwrite snapshots has the same
    * constraint.
    */
  def deleteFromBranchCoW(spark: SparkSession, name: String,
      predicate: Column): Option[SnapshotMeta] =
    branchCoW(spark, name, predicate, assignments = None)

  /** Copy-on-write UPDATE on a branch — same staging/publish contract
    * as `deleteFromBranchCoW`; every assignment RHS sees the
    * pre-update row, like `update`.
    */
  def updateBranchCoW(spark: SparkSession, name: String,
      assignments: Map[String, Column], predicate: Column)
      : Option[SnapshotMeta] = {
    val bad = assignments.keySet.filterNot(md.currentSchema.fieldNames.contains)
    require(bad.isEmpty, s"unknown columns in SET: $bad")
    branchCoW(spark, name, predicate, Some(assignments))
  }

  private[lake] def branchCoW(spark: SparkSession, name: String,
      predicate: Column, assignments: Option[Map[String, Column]])
      : Option[SnapshotMeta] = {
    val what =
      if (assignments.isDefined) "updateBranchCoW" else "deleteFromBranchCoW"
    val ref = branchRef(name)
    // read-dependent write: a concurrent commit invalidates the view
    // this rewrite is computed from — surface it, never retry blindly
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val base = ref.baseSnapshotId.get
    val visible = md.snapshots.filter(_.id <= base)
    // same contract as the main-table CoW verbs (`delete`/`update`):
    // live equality batches don't mix with a file rewrite — batches
    // staged on this branch count too, since the rewrite would bake
    // them in and change their replay semantics at publish
    require(LakeTable.liveEqDeletes(visible).isEmpty &&
      branchSnaps(name).forall(_.eqDeletes.isEmpty),
      s"$what: equality-delete batches are live in the branch view; " +
        "use the MoR branch verbs (deleteFromBranchMoR/upsertToBranchMoR) " +
        "or compact first")
    val cowRemoved = branchSnaps(name).flatMap(_.removedPaths)
      .map(LakeTable.normalizePath).toSet
    val (overlayFiles, _) =
      LakeTable.resequenceOverlay(base, branchSnaps(name))
    val candidates = (LakeTable.liveFiles(visible) ++ overlayFiles)
      .filterNot(f => cowRemoved(LakeTable.normalizePath(f.path)))
    val affected = affectedFiles(spark, predicate,
      candidatesOverride = Some(candidates),
      deletes = Some(LakeTable.liveDeletes(visible)))
    if (affected.isEmpty) return None
    // v3 branch rewrites preserve row lineage exactly like the
    // main-table CoW verbs: survivors carry their id + last-updated
    // verbatim, updated rows keep their id and null the last-updated
    // so inheritance re-stamps the PUBLISH commit's sequence — without
    // this, a curation pass on a branch would silently re-identify
    // every row it touched at publish.
    //
    // STAGED-ORIGIN survivors are the exception to "carry verbatim":
    // a row an EARLIER staged commit rewrote inherits a sequence that
    // only exists pre-publish (fastForward re-numbers every staged
    // snapshot) — materializing it would bake a dangling id into the
    // parquet. Those rows keep NULL lineage and land in their own
    // output files whose file-meta `seq` names the SOURCE staged
    // snapshot; publish remaps that seq to the source's published id
    // (the file-meta seq is exactly the format's deferred-sequencing
    // mechanism), so after publish they still read the sequence of
    // the commit that last changed them.
    val rows = readPinned(spark, affected,
      LakeTable.liveDeletes(visible), lineage = writesVectors)
    val p = coalesce(predicate, lit(false))
    val valueCols: Seq[Column] = assignments match {
      case None => md.currentSchema.fieldNames.toSeq.map(n => col(s"`$n`"))
      case Some(as) => md.currentSchema.fieldNames.toSeq.map { n =>
        as.get(n) match {
          case Some(v) => when(p, v).otherwise(col(s"`$n`")).as(n)
          case None => col(s"`$n`").as(n)
        }
      }
    }
    val base0 = if (assignments.isDefined) rows else rows.filter(!p)
    // staged snapshots' PREDICTED sequences on the branch view
    // (resequenceOverlay's numbering) → their staged ids
    val stagedByPredicted: Map[Long, Long] =
      branchSnaps(name).map(_.id).sorted.zipWithIndex
        .map { case (id, i) => (base + i + 1) -> id }.toMap
    val affectedStaged = writesVectors &&
      affected.exists(f => stagedByPredicted.contains(f.seq))
    val provisionalId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    def freshOutDir() = dataDir.resolve(
      s"snap-$provisionalId-${java.util.UUID.randomUUID().toString.take(8)}")
    def writeGroup(df: DataFrame): Seq[DataFileMeta] = {
      val aligned = Align.keeping(df, md.currentSchema,
        LakeTable.matLineageCols)
      val fs = writeDataFiles(aligned, freshOutDir())
      // an origin group may hold zero rows (all its candidates were
      // touched) — drop the empty file rather than commit it
      fs.filter { f =>
        if (f.rows == 0L) { Files.deleteIfExists(Paths.get(f.path)); false }
        else true
      }.map(f => if (writesVectors) f.copy(lineageCols = true) else f)
    }
    val written =
      if (!affectedStaged) {
        // no staged inputs: every inherited sequence is a stable MAIN
        // id — materialize verbatim (the pre-existing fast path)
        val kept =
          if (!writesVectors) base0.select(valueCols: _*)
          else base0.select(valueCols ++ Seq(
            col("_row_id").as("_graft_row_id"),
            when(if (assignments.isDefined) p else lit(false),
              lit(null).cast(LongType))
              .otherwise(col("_last_updated_sequence_number"))
              .as("_graft_last_updated")): _*)
        writeGroup(kept)
      } else {
        val touched = if (assignments.isDefined) p else lit(false)
        val full = base0.select(valueCols ++ Seq(
          col("_row_id").as("__rid"),
          col("_last_updated_sequence_number").as("__orig"),
          touched.as("__touched")): _*).localCheckpoint()
        val dataCols = md.currentSchema.fieldNames.toSeq
          .map(n => col(s"`$n`"))
        val predictedKeys = stagedByPredicted.keys.toSeq
        val mainish = full.filter(col("__touched") ||
          col("__orig").isNull ||
          !col("__orig").isin(predictedKeys: _*))
          .select(dataCols ++ Seq(
            col("__rid").as("_graft_row_id"),
            when(col("__touched"), lit(null).cast(LongType))
              .otherwise(col("__orig")).as("_graft_last_updated")): _*)
        val stagedParts = stagedByPredicted.toSeq.sortBy(_._1).flatMap {
          case (pred, sid) =>
            writeGroup(full.filter(!col("__touched") &&
              col("__orig") === pred)
              .select(dataCols ++ Seq(
                col("__rid").as("_graft_row_id"),
                lit(null).cast(LongType).as("_graft_last_updated")): _*))
              .map(_.copy(seq = sid))
        }
        writeGroup(mainish) ++ stagedParts
      }
    Some(stageBranchSnapshot(name, written,
      md.currentSchemaId, operation = "staged-cow",
      removedPaths = affected.map(_.path)))
  }

  /** Optimistic-concurrency commit loop shared by retriable appends
    * and blind MoR writes: build a fresh snapshot per attempt (ids
    * share one space with staged snapshots), commit, and on conflict
    * back off with jitter, reload, run the caller's post-reload
    * validity check, and go again — up to Iceberg's
    * commit.retry.num-retries.
    */
  private[lake] def retryingCommit(retriable: Boolean,
      build: Long => SnapshotMeta,
      apply: SnapshotMeta => TableMetadata,
      afterReload: java.util.ConcurrentModificationException => Unit =
        _ => ()): SnapshotMeta = {
    // tolerant parse: a malformed value (pre-validation metadata) must
    // not brick every write — fall back to the default
    val maxRetries = md.properties.get("commit.retry.num-retries")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(4)
    var attempts = 0
    while (true) {
      val snapshotId = (md.snapshots ++ md.staged).map(_.id)
        .foldLeft(0L)(math.max) + 1
      val snap = build(snapshotId)
      try {
        commit(apply(snap))
        return snap
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (!retriable || attempts > maxRetries) throw e
          // jittered linear backoff so a herd of writers doesn't
          // re-collide in lockstep
          Thread.sleep(
            scala.util.Random.nextInt(10L.max(attempts * 20L).toInt).toLong)
          reload()
          afterReload(e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish the branch onto main, in commit order, as fresh append
    * snapshots (monotonic ids). Refused when main advanced past the
    * fork base — divergence needs a conflict strategy, not a silent
    * overwrite; discard the branch or re-branch from the new head.
    * Returns the published snapshots; the ref stays a branch, re-based
    * at the new head.
    */
  def fastForward(name: String): Seq[SnapshotMeta] = {
    val ref = branchRef(name)
    val base = ref.baseSnapshotId.get
    val head = md.snapshots.map(_.id).foldLeft(0L)(math.max)
    // a post-base suffix of REWRITE snapshots is not divergence:
    // compaction / rewrite_manifests move bytes, not data, so the
    // branch's fork-base state is semantically the current state —
    // routine maintenance must not strand branch publishes
    require(head == base ||
      md.snapshots.filter(_.id > base)
        .forall(s => LakeTable.isByteMove(s.operation)),
      s"branch '$name' forked at $base but main is at $head — " +
        "diverged; rebase_branch to re-fork at the new head (sound: " +
        "branch commits are blind writes), or discard the branch")
    val snaps = branchSnaps(name)
    snaps.foreach(s => require(s.schemaId == md.currentSchemaId,
      s"branch '$name' has a commit under schema ${s.schemaId}; table " +
        s"is now at ${md.currentSchemaId} — discard and re-branch " +
        "after evolution"))
    var nextId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max)
    // the rebase check for staged copy-on-write commits: every
    // rewritten input must STILL be live at publish time — tracked
    // through the publish sequence itself, since a later branch CoW
    // may legitimately rewrite files an earlier branch commit added.
    // A compaction since the fork (allowed by the byte-move clause
    // above) moves file paths, which makes a baked-in rewrite stale —
    // that surfaces here as a named refusal, not silent duplication.
    var liveNow = LakeTable.liveFiles(md.snapshots)
      .map(f => LakeTable.normalizePath(f.path)).toSet
    // staged id → published id, built as the walk publishes: a later
    // staged commit's file whose explicit seq NAMES an earlier staged
    // snapshot (deferred staged-origin lineage — see branchCoW) must
    // re-point at that snapshot's PUBLISHED id, or the baked reference
    // dangles the moment the staged entries are dropped
    val pubOf = scala.collection.mutable.Map.empty[Long, Long]
    val published = snaps.map { s =>
      nextId += 1
      // branch MoR commits publish under their real operation;
      // equality batches re-stamp to the published sequence so they
      // supersede everything older than the publish (append-wins —
      // identical to what the branch view already showed: main's
      // state at publish equals the fork-base state, since anything
      // past the base is a rewrite that moves bytes, not data)
      val op = s.operation match {
        case "staged-delete" => "delete"
        case "staged-upsert" => "upsert"
        case "staged-cow" => "overwrite"
        case _ => "append"
      }
      if (s.removedPaths.nonEmpty) {
        val gone = s.removedPaths.map(LakeTable.normalizePath)
          .filterNot(liveNow)
        require(gone.isEmpty,
          s"branch '$name' carries a copy-on-write rewrite of " +
            s"${gone.size} file(s) no longer live on main (e.g. " +
            s"${gone.take(2).mkString(", ")}) — the base moved under " +
            "the rewrite; discard the branch and re-apply the change")
      }
      liveNow = liveNow --
        s.removedPaths.map(LakeTable.normalizePath) ++
        s.files.map(f => LakeTable.normalizePath(f.path))
      val remapped =
        if (s.files.exists(f => f.seq >= 0 && pubOf.contains(f.seq)))
          s.files.map(f =>
            if (f.seq >= 0 && pubOf.contains(f.seq))
              f.copy(seq = pubOf(f.seq))
            else f).toSeq
        else s.files
      pubOf(s.id) = nextId
      s.copy(id = nextId, operation = op, files = remapped,
        eqDeletes = s.eqDeletes.map(_.copy(seq = nextId)),
        timestampMs = System.currentTimeMillis())
    }
    val newHead = published.lastOption.map(_.id).getOrElse(head)
    commit(md.copy(snapshots = md.snapshots ++ published,
      staged = md.staged.filterNot(_.wapId.contains(branchMarker(name))),
      refs = md.refs + (name -> RefMeta(newHead, "branch",
        baseSnapshotId = Some(newHead)))))
    published
  }

  /** Re-fork a diverged branch at the current main head (rebase).
    * Branch commits are blind writes by construction — appends, or
    * MoR deletes/upserts whose equality batches carry their own keys —
    * so carrying them over the moved base cannot conflict with
    * anything main did since the fork: the branch view simply starts
    * overlaying main's newer commits (which branch eq-batches, being
    * newer still, supersede per key), and `fastForward` becomes
    * possible again. Schema compatibility stays fast-forward's check
    * (a rebase is also how a branch catches up to see an evolution).
    * The branch view re-sequences its commits above whatever base it
    * currently has (`readBranch`), so before and after a rebase the
    * view equals what publishing would produce — blind-write
    * last-wins per key, with no view/publish divergence. Returns the
    * new base snapshot id; no-op when already based at head.
    */
  def rebaseBranch(name: String): Long = {
    val ref = branchRef(name)
    val head = md.snapshots.map(_.id).foldLeft(0L)(math.max)
    if (ref.baseSnapshotId.contains(head)) return head
    // blind writes rebase soundly; a staged copy-on-write rewrite does
    // NOT — it baked in the fork-base content of the files it replaced,
    // and main may have changed those rows since
    require(branchSnaps(name).forall(_.removedPaths.isEmpty),
      s"branch '$name' carries copy-on-write rewrites pinned to base " +
        s"${ref.baseSnapshotId.get} — a rebase cannot carry a file " +
        "rewrite over a moved base; fastForward (if main only " +
        "compacted) or discard the branch and re-apply")
    // an empty branch's head pointer tracks its base
    val newSnapId = if (branchSnaps(name).isEmpty) head else ref.snapshotId
    commit(md.copy(refs = md.refs + (name ->
      RefMeta(newSnapId, "branch", baseSnapshotId = Some(head)))))
    head
  }

  /** Drop a branch and its unpublished commits; their data files
    * become orphans. Returns the number of files orphaned.
    */
  def discardBranch(name: String): Int = {
    branchRef(name)
    val snaps = branchSnaps(name)
    commit(md.copy(
      staged = md.staged.filterNot(_.wapId.contains(branchMarker(name))),
      refs = md.refs - name))
    snaps.map(s => s.files.size + s.eqDeletes.map(_.paths.size).sum).sum
  }

  // ---- equality deletes (Iceberg v2's second delete-file kind) --------
}
