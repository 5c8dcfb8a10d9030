package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema._

/** A lake table: parquet data files + versioned JSON metadata with
  * Iceberg-style semantics — field-ID schema evolution, hidden
  * partitioning with identity/hour/day/month/year transforms,
  * partition-spec evolution, snapshot log, metadata-level partition
  * pruning. Replaces the reference's PyIceberg+Glue machinery
  * (`iceberg_helper.py`) on the public Spark API alone.
  *
  * Layout: `<warehouse>/<db>/<table>/metadata/v{N}.json` + a
  * `version-hint.text` pointer committed by atomic rename
  * (single-writer model, matching the reference's lack of any retry
  * logic); data under `data/snap-{id}/`, Hive-style `_p_*=value`
  * partition dirs.
  *
  * Scale: metadata is O(schemas + specs + files); every read is one
  * DSv2 scan ([[graft.sources.LakeSource.engineRead]]) whose readers
  * reconcile each file to the read schema by field id, so the plan
  * size is one relation whatever the file or schema-version count.
  */
class LakeTable private (val location: Path, private[lake] var md: TableMetadata,
    initialVersion: Int = -1)
    extends LakeTableRefs with LakeTableRowOps
    with LakeTableMaintenance with LakeTableChangelog {

  def metadata: TableMetadata = md
  def currentSchema: StructType = md.currentSchema

  /** A handle frozen at this handle's current view — `md` is replaced
    * on every commit, so a lazily planned read built now must not see
    * a later commit through the same handle.
    */
  private[graft] def frozenView: LakeTable = viewOf(md)

  /** A handle over `next` — a metadata document this handle is about
    * to commit — for reads that must see it before it lands
    * (constraint validation of an incoming commit).
    */
  private[lake] def viewOf(next: TableMetadata): LakeTable =
    new LakeTable(location, next, loadedVersion)

  /** Schema current AT a snapshot (validates the id with context). */
  def schemaAsOf(snapshotId: Long): StructType = {
    val snap = md.snapshots.find(_.id == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot $snapshotId in $location (have " +
          s"${md.snapshots.map(_.id).mkString(", ")})"))
    md.schemaById(snap.schemaId)
  }

  private[lake] def metadataDir = location.resolve("metadata")
  private[lake] def dataDir = location.resolve("data")

  /** Metadata version this handle last observed — the optimistic-
    * concurrency baseline for commit(). MUST be the version whose
    * document `md` actually holds: `load` passes the hint value it
    * resolved the document from, because re-reading the hint here
    * would race a concurrent commit landing between the two reads —
    * the handle would then carry STALE metadata under a FRESH version
    * number, sail through the commit CAS, and silently drop the
    * interleaved snapshot (found by the multi-process torture test's
    * one-in-ten lost-commit flake).
    */
  private[lake] var loadedVersion: Int =
    if (initialVersion >= 0) initialVersion else currentHintVersion()

  private[lake] def currentHintVersion(): Int = {
    val hint = metadataDir.resolve("version-hint.text")
    if (Files.exists(hint)) Files.readString(hint).trim.toInt else 0
  }

  // ---- commit ----------------------------------------------------------

  /** Move a snapshot's file list out-of-line: already-manifested lists
    * keep their handle (the existing manifest file is re-referenced
    * byte-for-byte — the unchanged-history part of a commit costs zero
    * manifest IO); fresh lists get a new immutable manifest. Empty
    * lists (MoR delete/eq-delete snapshots) stay inline — no point in
    * a file holding `[]`.
    */
  private[lake] def externalize(s: SnapshotMeta,
      created: scala.collection.mutable.Buffer[Path]): SnapshotMeta =
    s.files match {
      case _: ManifestFiles => s
      case _: ManifestSet => s
      case fs if fs.isEmpty => s
      case fs =>
        // partition-cluster wide lists (more distinct partition tuples
        // than a summary can hold) into several manifests so every
        // part keeps a prunable summary — one fat manifest would lose
        // it and force full-inventory planning on every pruned read
        def writeOne(part: Seq[DataFileMeta]): ManifestFiles = {
          val p = metadataDir.resolve(s"manifest-${s.id}-" +
            s"${java.util.UUID.randomUUID().toString.take(8)}.json")
          val mf = ManifestIO.write(p, part.toVector)
          created += p
          mf
        }
        ManifestIO.cluster(fs) match {
          case Seq(single) => s.copy(files = writeOne(single))
          case parts => s.copy(files =
            new ManifestSet(parts.map(writeOne).toVector))
        }
    }

  /** Stamp sequential row-lineage id ranges (Iceberg v3 `next-row-id`
    * assignment) onto the data files of snapshots NEWLY ADDED by this
    * commit: each freshly-written file takes the running counter and
    * advances it by its row count, so `_row_id = firstRowId +
    * row_position` is unique table-wide.
    *
    * Scope rules (each one an identity invariant):
    *   - v1/v2 tables don't stamp at all — row lineage is a v3
    *     feature, and ids handed out pre-upgrade would flip when the
    *     upgrade re-baselines `next-row-id`. Checked against `next`,
    *     not `md`, so the upgrade commit itself starts assigning.
    *   - Only snapshots whose id is new relative to the loaded
    *     metadata stamp; pre-existing snapshots (v1/v2 history, or a
    *     pre-lineage table's inline lists) must keep reading exactly
    *     what time-travel always showed.
    *   - Within a new snapshot, only freshly-written files (no
    *     explicit data sequence) stamp. Carried copies — expire
    *     squashes, rewrite_manifests, publish — keep their original
    *     `firstRowId`, INCLUDING its absence: stamping an unstamped
    *     carried copy would make the same physical row expose -1 via
    *     one snapshot and a real id via another.
    *   - Files with an unknown row count (-1 footer sentinel) stay
    *     unstamped: an open range would collide with the next
    *     assignment.
    * Manifest-backed (carried-by-reference) lists stay untouched —
    * their files were stamped when first committed.
    */
  private[lake] def assignRowIds(next: TableMetadata): TableMetadata = {
    val v3 = next.formatVersion >= 3 || next.properties
      .get("format-version").exists(_.trim.toIntOption.exists(_ >= 3))
    if (!v3) return next
    val known = (md.snapshots ++ md.staged).map(_.id).toSet
    var counter = next.nextRowId
    var changed = false
    def stampSnap(s: SnapshotMeta): SnapshotMeta =
      if (known(s.id)) s
      else s.files match {
        case _: ManifestFiles | _: ManifestSet => s
        case fs =>
          val stampedFiles = fs.map { f =>
            if (f.firstRowId >= 0 || f.rows < 0 || f.seq >= 0) f
            else {
              val base = counter
              counter += f.rows
              changed = true
              f.copy(firstRowId = base)
            }
          }
          if (stampedFiles == fs) s else s.copy(files = stampedFiles)
      }
    val snaps = next.snapshots.map(stampSnap)
    val staged = next.staged.map(stampSnap)
    if (!changed) next
    else next.copy(snapshots = snaps, staged = staged, nextRowId = counter)
  }

  /** Test-only commit auditing (`-Dgraft.commit.audit=true`): one line
    * per commit attempt appended (O_APPEND — atomic for small writes)
    * to `metadata/commit-audit.log`, so a cross-process torture test
    * can reconstruct the exact claim/flip interleaving post-mortem.
    * Never enabled in production paths.
    */
  private[lake] def audit(msg: => String): Unit =
    if (java.lang.Boolean.getBoolean("graft.commit.audit")) {
      try {
        val line = s"${ProcessHandle.current().pid()} " +
          s"${System.nanoTime()} $msg\n"
        Files.write(metadataDir.resolve("commit-audit.log"),
          line.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } catch { case _: Exception => () }
    }

  // ---- transaction -----------------------------------------------------

  private[lake] var txnActive = false

  /** Single-table multi-operation transaction (Iceberg's
    * `Table.newTransaction`): every operation this handle runs inside
    * `body` — appends, row-level ops, schema/property changes,
    * compaction — stages against the in-memory metadata, and ONE
    * atomic pointer flip at the end publishes all of it. Readers (and
    * fresh loads) see either none of the transaction's snapshots or
    * all of them; time travel and the changelog keep every
    * per-operation snapshot, exactly as if they had committed
    * individually.
    *
    * Concurrency: the optimistic contract is unchanged — a concurrent
    * commit landing during the body surfaces at the final CAS (or at
    * an op's own staleness check) and ABORTS the whole transaction;
    * the handle rolls back to its pre-transaction view. Data files
    * written by aborted operations are unreferenced orphans for
    * `removeOrphanFiles`, identical to any lost commit attempt.
    * Op-level conflict retry is disabled inside a transaction: a
    * retry would rebuild on another writer's state and smuggle it
    * into this transaction's single publish.
    */
  def transaction[A](body: LakeTable => A): A = {
    val baseMd = txnBegin()
    val result =
      try body(this)
      catch {
        case e: Throwable => txnRollback(baseMd); throw e
      }
    txnEnd(baseMd) match {
      case None => result // body staged nothing
      case Some(next) =>
        // constraints validated per staged op inside the body
        try commit(next, skipValidate = true)
        catch { case e: Throwable => md = baseMd; throw e }
        result
    }
  }

  /** Enter buffered mode (the [[transaction]] internals, exposed for
    * the multi-table coordinator): staleness fail-fast, then every
    * operation stages in-memory until the coordinator claims+flips.
    * Returns the base metadata to restore on rollback.
    */
  private[lake] def txnBegin(): TableMetadata = {
    require(!txnActive, "transaction already active on this handle")
    // fail fast rather than buy work guaranteed to lose the final CAS.
    // A pointer lagging ONE version behind a committed cross-table
    // claim this handle loaded through (the roll-forward read path) is
    // not a conflict — complete the mandatory flip and proceed.
    if (currentHintVersion() != loadedVersion &&
        !(currentHintVersion() == loadedVersion - 1 &&
          LakeTxn.healCommittedClaim(location, loadedVersion) &&
          currentHintVersion() == loadedVersion))
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val baseMd = md
    txnActive = true
    baseMd
  }

  /** Whether this handle's loaded version is still the table head —
    * the read-set validation SQL-transaction COMMIT runs on read-only
    * participants. Tolerates the committed-but-unflipped lag exactly
    * like [[txnBegin]]'s fail-fast does.
    */
  /** Is this handle's loaded version still the table head — AND is no
    * commit already in flight past it? A `v{loaded+1}.json` claim is a
    * conflict even while the pointer lags: a plain parseable claim
    * always rolls forward (torn-claim recovery), and a pending-txn
    * claim may be committed-by-record already — treating either as
    * "still current" would validate a read the next microsecond
    * falsifies. Conservative on aborted-txn claims (spurious conflict,
    * retried), never unsound.
    */
  private[lake] def stillCurrent: Boolean =
    (currentHintVersion() == loadedVersion ||
      (currentHintVersion() == loadedVersion - 1 &&
        LakeTxn.healCommittedClaim(location, loadedVersion) &&
        currentHintVersion() == loadedVersion)) &&
      !Files.exists(metadataDir.resolve(s"v${loadedVersion + 1}.json"))

  private[lake] def txnRollback(baseMd: TableMetadata): Unit = {
    md = baseMd
    txnActive = false
  }

  /** Leave buffered mode; Some(next) when the body staged changes
    * (with `md` reset to base — the commit diffs against it). */
  private[lake] def txnEnd(baseMd: TableMetadata): Option[TableMetadata] = {
    txnActive = false
    if (md eq baseMd) None
    else {
      val next = md
      md = baseMd
      Some(next)
    }
  }

  private[lake] def commit(next: TableMetadata,
      skipValidate: Boolean = false): String = {
    // `skipValidate`: the transaction publish paths (single- and
    // cross-table) — every staged op already validated at its own
    // buffered commit, and re-validating here would re-scan the
    // unproven files for nothing
    if (!skipValidate) validateConstraints(next)
    if (txnActive) {
      // buffered: row-id stamping runs NOW (its known-snapshot set is
      // the current buffered state, so each staged op stamps exactly
      // its own new files); the claim+flip waits for the transaction's
      // closing commit
      md = assignRowIds(next)
      return "<txn-buffered>"
    }
    val claim = writeClaim(next, None)
    // crash window under test (MaintenanceSpec torn-claim recovery): a
    // death HERE leaves v{N+1}.json claimed but the pointer at N —
    // recoverTornClaim on the next committer rolls it forward
    LakeTable.faultPoint("post-claim-pre-flip")
    flipClaim(claim)
    claim.target.toString
  }

  /** CHECK-constraint enforcement ([[Constraints]] scaladoc): every
    * commit validates the DATA FILES it adds against the table's
    * declared constraints — stats-proven files skip the read,
    * byte-moves (compaction/zorder) skip entirely (their rows already
    * passed when first written, and ADD CONSTRAINT validated existing
    * data). A buffered (transaction) op validates at its own staged
    * commit, fail-fast; the closing publish re-checks cheaply (the
    * stats proof is in-memory).
    */
  private[lake] def validateConstraints(next: TableMetadata): Unit = {
    val declared = Constraints.of(next.properties).map {
      case (n, sql) => s"CHECK constraint '$n'" -> sql
    }
    // REQUIRED (non-nullable) top-level columns enforce as implicit
    // IS NOT NULL checks through the same stats-first machinery —
    // footer null counts prove a clean file for free, so the Iceberg
    // required-field contract costs O(footers) per commit (a column
    // without null accounting falls back to the delta scan)
    val requiredFields = Reconcile.clean(next.currentSchema)
      .asInstanceOf[StructType].fields.toSeq.filterNot(_.nullable)
    val required = requiredFields.map(f =>
      s"required column '${f.name}'" ->
        s"`${f.name.replace("`", "``")}` IS NOT NULL")
    val cons = declared ++ required
    if (cons.isEmpty) return
    val before = md.snapshots.map(_.id).toSet
    val beforeStaged = md.staged.map(_.id).toSet
    val added = (next.snapshots.filterNot(s => before(s.id)) ++
      next.staged.filterNot(s => beforeStaged(s.id)))
      .filterNot(s => LakeTable.isByteMove(s.operation))
      .flatMap(_.files)
    // label → field id of each required column, for the footer proof
    val requiredIds = required.map(_._1).zip(requiredFields.map(f =>
      FieldIds.idOf(next.currentSchema(f.name)))).toMap
    if (added.nonEmpty)
      validateFiles(added, next, cons.toMap, requiredIds)
  }

  /** One constraint pass over `files`: per constraint (the label is
    * the human phrase — "CHECK constraint 'x'" or "required column
    * 'y'"), drop every file whose footer stats prove it cannot hold a
    * violating row, then — for a required column (`requiredIds`: label
    * → field id) — every file whose parquet footer declares the column
    * REQUIRED, then run the `limit(1)` violation scan over the
    * remainder. Refuses BY NAME on the first violation — the commit
    * never happens, so a bad batch can't land partially.
    */
  private[lake] def validateFiles(files: Seq[DataFileMeta],
      next: TableMetadata, cons: Map[String, String],
      requiredIds: Map[String, Int]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val schema = next.currentSchema
    // per file: the top-level columns its footer declares REQUIRED,
    // read once per file on first need (driver-side, no Spark job)
    val footerRequired =
      scala.collection.mutable.Map.empty[String, Set[String]]
    def loadFooters(fs: Seq[DataFileMeta]): Unit = {
      val missing = fs.map(_.path).distinct.filterNot(footerRequired.contains)
      footerRequired ++= missing.zip(
        LakeTable.parMapFiles(missing)(FileStats.requiredTopLevel))
    }
    // footers carry no field ids: the column's name in the schema the
    // file was WRITTEN under is the name its footer column has
    def footerProves(f: DataFileMeta, fieldId: Int): Boolean =
      next.schemas.find(_.id == f.schemaId).flatMap(_.schema.fields
          .find(fd => FieldIds.hasId(fd) && FieldIds.idOf(fd) == fieldId))
        .exists(fd => footerRequired(f.path)(fd.name))
    var scanned = 0
    cons.toSeq.sortBy(_._1).foreach { case (label, sql) =>
      // a zero-row file (an empty write partition) carries no stats
      // and no rows — trivially violation-free
      val nonEmpty = files.filter(_.rows != 0)
      val statsUnproven = Constraints.violationFilters(sql, schema) match {
        case Some(vfs) => nonEmpty.filter(f => vfs.exists(vf =>
          FileStats.mightMatch(f.stats, schema, Seq(vf))))
        case None => nonEmpty
      }
      // a REQUIRED footer column is backed by the engine's own writer
      // check (LakeParquetDataWriter refuses a null in a non-nullable
      // write column), and parquet can encode no null in it at all;
      // files whose column is OPTIONAL (nullable-declared frames,
      // FileFormatWriter output, adopted external files) keep the scan
      val unproven = requiredIds.get(label) match {
        case Some(id) if statsUnproven.nonEmpty =>
          loadFooters(statsUnproven)
          statsUnproven.filterNot(footerProves(_, id))
        case _ => statsUnproven
      }
      if (unproven.nonEmpty) {
        scanned += unproven.size
        // active is thread-local; a writer on a pool thread (driver
        // mains, foreachBatch) still has the default session
        val spark = org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .getOrElse(throw new IllegalStateException(
            s"validating $label needs a Spark session"))
        val viol = viewOf(next).readPinned(spark, unproven)
          .filter(not(coalesce(expr(sql), lit(true))))
          .limit(1).count()
        require(viol == 0L,
          s"$label ($sql) is violated by incoming rows — " +
            "commit refused")
      }
    }
    // always recorded — both counts are already in hand, so the
    // observable costs one volatile write (unlike the MatViews scan
    // audits, which pay an extra planning pass and stay conf-gated)
    Constraints.lastValidationScan =
      Some((scanned, files.size * cons.size))
  }

  /** The table's declared CHECK constraints (name → SQL). */
  def constraints: Map[String, String] = Constraints.of(md.properties)

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (sql)`: parses and
    * binds the expression, validates EXISTING rows (stats-first, with
    * merge-on-read deletes applied on the unproven remainder), and
    * publishes the property — all inside one transaction, so the
    * closing CAS refuses if a concurrent write lands mid-validate.
    */
  def addConstraint(spark: org.apache.spark.sql.SparkSession,
      name: String, sql: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    require(!Constraints.of(md.properties).contains(name),
      s"constraint '$name' already exists")
    val refs =
      try Constraints.referencedCols(sql)
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"CHECK expression does not parse: $sql", e) }
    refs.foreach(r => require(md.currentSchema.fieldNames.contains(r),
      s"CHECK constraint '$name' references unknown column '$r'"))
    require(!md.staged.exists(_.files.nonEmpty),
      s"cannot add constraint '$name' with staged (branch/WAP) " +
        "snapshots pending — publish or discard them first")
    transaction { t =>
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val schema = md.currentSchema
      val live = LakeTable.liveFiles(md.snapshots, Map.empty, schema)
      val unproven = Constraints.violationFilters(sql, schema) match {
        case Some(vfs) => live.filter(f => vfs.exists(vf =>
          FileStats.mightMatch(f.stats, schema, Seq(vf))))
        case None => live
      }
      if (unproven.nonEmpty) {
        // scan ONLY the unproven files, with merge-on-read deletes
        // applied — a violating row that is already deleted is fine,
        // and the stats-proven majority of a large table is never read
        val viol = readPinned(spark, unproven,
            LakeTable.liveDeletes(md.snapshots),
            LakeTable.liveEqDeletes(md.snapshots))
          .filter(not(coalesce(expr(sql), lit(true))))
          .limit(1).count()
        require(viol == 0L,
          s"cannot add CHECK constraint '$name' ($sql): existing " +
            "rows violate it")
      }
      Constraints.lastValidationScan = Some((unproven.size, live.size))
      t.updateProperties(Map(Constraints.Prefix + name -> sql))
    }
  }

  def dropConstraint(name: String, ifExists: Boolean = false): Unit = {
    if (!Constraints.of(md.properties).contains(name)) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"no constraint named '$name' on this table")
    }
    updateProperties(Map.empty, unset = Seq(Constraints.Prefix + name))
  }

  /** Phase 1 of a commit: staleness CAS, row-id stamping, manifest
    * externalization, then the CREATE_NEW claim of `v{N+1}.json`. With
    * `txnId` set (the cross-table coordinator), the claim file carries
    * a `pending-txn` field — readers and recovery then resolve its
    * fate through the transaction's final record instead of treating
    * it as a plain torn claim. Claim and transaction id land in ONE
    * atomic file create, so a claim can never be misattributed.
    */
  private[lake] def writeClaim(next: TableMetadata,
      txnId: Option[String]): LakeTable.Claim = {
    Files.createDirectories(metadataDir)
    // optimistic concurrency: refuse to clobber a commit made through
    // another handle since this one loaded (the reference has no retry
    // logic either — surfacing the conflict is the contract)
    var observed = currentHintVersion()
    if (observed == loadedVersion - 1 &&
        LakeTxn.healCommittedClaim(location, loadedVersion))
      // this handle was loaded THROUGH a committed-but-unflipped
      // cross-table claim (the roll-forward read path); the flip is
      // mandatory-eventual, so complete it here and commit on top
      // instead of surfacing a phantom conflict
      observed = currentHintVersion()
    if (observed != loadedVersion) {
      audit(s"stale observed=$observed loaded=$loadedVersion")
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently " +
          s"(expected v$loadedVersion, found v$observed); reload and retry")
    }
    // row-lineage assignment sits HERE, the one choke point every
    // write path funnels through, so appends, MoR deltas, WAP stages,
    // branch commits, and compactions all get stamped without opting
    // in — and a CAS retry re-runs it against the reloaded counter
    val stamped = assignRowIds(next)
    // write new manifests BEFORE claiming the version: a commit appends
    // O(delta) manifest bytes and the table JSON stays O(snapshots)
    val createdManifests = scala.collection.mutable.Buffer.empty[Path]
    val ext = stamped.copy(
      snapshots = stamped.snapshots.map(externalize(_, createdManifests)),
      staged = stamped.staged.map(externalize(_, createdManifests)))
    val version = observed + 1
    val target = metadataDir.resolve(s"v$version.json")
    val body = txnId match {
      case Some(id) => Json.write(JObject(
        MetadataIO.toJson(ext).asObj + ("pending-txn" -> JString(id))))
      case None => Json.write(MetadataIO.toJson(ext))
    }
    // CREATE_NEW atomically claims this version number: two handles that
    // both observed vN race to create v{N+1}.json and the loser gets
    // FileAlreadyExistsException instead of silently clobbering the
    // winner's metadata and flipping the pointer over it
    try
      Files.writeString(target, body,
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        audit(s"claim-collision v$version " +
          s"adds=${next.snapshots.map(_.id).diff(md.snapshots.map(_.id))
            .mkString("/")}")
        // the lost race must not leak this attempt's manifests
        createdManifests.foreach(Files.deleteIfExists(_))
        // a claim whose writer DIED before flipping the pointer would
        // wedge the table forever (every retry re-claims the same
        // version and re-collides) — self-heal it before surfacing
        // the conflict
        recoverTornClaim(version, target)
        throw new java.util.ConcurrentModificationException(
          s"table $location was committed concurrently " +
            s"(v$version.json already exists); reload and retry")
    }
    LakeTable.Claim(this, version, target, ext, createdManifests.toSeq)
  }

  /** Phase 2: the atomic pointer flip — the per-table commit point
    * (for a cross-table transaction, visibility is decided earlier by
    * the transaction's final record; this flip then merely publishes
    * the already-committed claim). Tolerates a pointer already at or
    * past the claim (recovery or a roll-forward reader flipped first —
    * both write the same value).
    */
  private[lake] def flipClaim(claim: LakeTable.Claim): Unit = {
    if (currentHintVersion() < claim.version) {
      val tmp = metadataDir.resolve(s".version-hint.tmp")
      Files.writeString(tmp, claim.version.toString)
      Files.move(tmp, metadataDir.resolve("version-hint.text"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    audit(s"committed v${claim.version} " +
      s"adds=${claim.ext.snapshots.map(_.id).diff(md.snapshots.map(_.id))
        .mkString("/")} maxSnap=${claim.ext.snapshots.map(_.id)
        .foldLeft(0L)(math.max)}")
    md = claim.ext
    loadedVersion = claim.version
  }

  /** Abandon a claim this handle made (the cross-table abort path):
    * removes the claim file and the manifests it externalized. Only
    * ever called on claims whose transaction's final record says
    * `abort` — the claim can no longer win.
    *
    * OWNERSHIP CHECK before the delete: a ZOMBIE coordinator (stalled
    * past the recovery grace, aborted by recovery, its claim files
    * already deleted) can wake AFTER a fresh writer re-claimed the
    * same version number with its own CREATE_NEW — deleting by path
    * alone would destroy that writer's live (possibly already
    * flipped) metadata. Only a file still carrying THIS transaction's
    * pending-txn id is ours to remove.
    */
  private[lake] def abandonClaim(claim: LakeTable.Claim,
      txnId: String): Unit = {
    val ours =
      try Json.parse(Files.readString(claim.target)).asObj
        .get("pending-txn").map(_.asStr).contains(txnId)
      catch { case scala.util.control.NonFatal(_) => false }
    if (ours) {
      Files.deleteIfExists(claim.target)
      audit(s"txn-abandon v${claim.version}")
    } else audit(s"txn-abandon-skip v${claim.version} (re-claimed)")
    // the manifests were created by THIS attempt under fresh unique
    // names — never shared with a re-claimer — so they are always
    // ours to clean
    claim.manifests.foreach(Files.deleteIfExists(_))
  }

  /** Publish the metadata a [[txnEnd]] returned — the single-table
    * fast path of the cross-table coordinator (no coordination needed
    * when only one table staged changes). Constraint validation
    * already ran per staged op.
    */
  private[lake] def commitNext(next: TableMetadata): Unit =
    commit(next, skipValidate = true)

  /** Self-heal a torn metadata claim. A `v{N+1}.json` that exists while
    * the hint still reads N is either a concurrent committer inside its
    * claim→flip window (microseconds), or a writer that DIED there.
    * The dead case is a LIVENESS hole without recovery: every future
    * commit observes hint N, claims v{N+1}, collides, reloads (hint
    * unchanged) and fails identically, forever. Once the claim is old
    * enough to rule out a live writer (`commit.recovery.grace-ms`,
    * default 30 s — generous against GC pauses):
    *   - valid JSON → the commit is complete on disk except the flip
    *     (manifests and data files are always written BEFORE the
    *     claim), so roll it FORWARD by flipping the pointer; the
    *     colliding commit then retries from the recovered head like
    *     any lost race.
    *   - torn JSON → the writer died mid-write; delete the claim so
    *     the next attempt can take the version number.
    * Best-effort by design: any failure here leaves the conflict
    * exception to stand, and a raced recovery is idempotent (both
    * recoverers flip to the same version). The residual hazard — a
    * live writer pausing longer than the grace window between claim
    * and flip while TWO further commits complete inside this method's
    * read-check-flip window — needs a >30 s stall at exactly the wrong
    * instant; on a cloud object store the same protocol would use a
    * conditional put instead.
    */
  private[lake] def recoverTornClaim(version: Int, target: Path): Unit =
    try {
      if (currentHintVersion() >= version) return // completed normally
      val graceMs = md.properties.get("commit.recovery.grace-ms")
        .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(30000L)
      val age = System.currentTimeMillis() -
        Files.getLastModifiedTime(target).toMillis
      // a claim carrying `pending-txn` belongs to a cross-table
      // transaction: its fate is decided by the transaction's FINAL
      // record, never by claim validity alone — rolling forward a
      // pending participant would publish half a transaction
      val txnId =
        try Json.parse(Files.readString(target)).asObj
          .get("pending-txn").map(_.asStr)
        catch { case _: Exception => None }
      txnId match {
        case Some(id) =>
          val txns = LakeTxn.txnsDir(location)
          LakeTxn.finalState(txns, id) match {
            case Some("commit") =>
              // the commit record is authoritative — the flip is
              // mandatory-eventual, no grace needed
              audit(s"txn-rollforward v$version txn=$id")
              val tmp = metadataDir.resolve(".version-hint.tmp-recover")
              Files.writeString(tmp, version.toString)
              Files.move(tmp, metadataDir.resolve("version-hint.text"),
                StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
              // the unconditional move may have regressed a
              // concurrent flip — walk forward over any later claims
              LakeTxn.healForward(location, version)
            case Some(_) => // aborted — the claim can never win
              audit(s"txn-abort-clean v$version txn=$id")
              deleteClaimIfStillTxn(target, id)
            case None =>
              if (age < graceMs) return // live coordinator mid-commit
              // kill the stalled transaction: CREATE_NEW of the final
              // record races the coordinator's own `commit` write —
              // exactly one outcome wins, then act on whichever did
              LakeTxn.decideAbort(txns, id)
              LakeTxn.finalState(txns, id) match {
                case Some("commit") => recoverTornClaim(version, target)
                case _ =>
                  audit(s"txn-abort-stale v$version txn=$id")
                  deleteClaimIfStillTxn(target, id)
              }
          }
          return
        case None => ()
      }
      if (age < graceMs) return // probably a live claimer mid-flip
      val valid =
        try {
          MetadataIO.fromJson(Json.parse(Files.readString(target)),
            metadataDir)
          true
        } catch { case _: Exception => false }
      if (valid) {
        audit(s"torn-rollforward v$version")
        val tmp = metadataDir.resolve(".version-hint.tmp-recover")
        Files.writeString(tmp, version.toString)
        Files.move(tmp, metadataDir.resolve("version-hint.text"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        // the check-then-move may have regressed a concurrent flip
        LakeTxn.healForward(location, version)
      } else {
        audit(s"torn-delete v$version")
        Files.deleteIfExists(target)
      }
    } catch { case _: Exception => () }

  /** Delete an aborted transaction's claim only if the file STILL
    * carries that transaction's id — between the earlier read and
    * this delete, the abandoned version number may have been
    * re-claimed by a live writer whose metadata must not be
    * destroyed (the same ownership rule as [[abandonClaim]]).
    */
  private[lake] def deleteClaimIfStillTxn(target: Path, id: String): Unit = {
    val still =
      try Json.parse(Files.readString(target)).asObj
        .get("pending-txn").map(_.asStr).contains(id)
      catch { case _: Exception => false }
    if (still) Files.deleteIfExists(target)
  }

  // ---- evolution -------------------------------------------------------

  /** Apply a new table definition: diff → validate → new schema version
    * (+ new spec version when the partition fields changed). Returns
    * the reference-style message list (`iceberg_helper.py:306-385`).
    *
    * `initialDefaults` (column name → literal string) annotates
    * top-level columns of the NEW schema version with Iceberg-v3
    * initial defaults, in the SAME commit as the evolution — the SQL
    * catalog's `ADD COLUMN ... DEFAULT v` path. Atomic by
    * construction: a failed ALTER can never leave columns added with
    * their defaults lost.
    */
  def evolve(tableDef: TableDef,
      initialDefaults: Map[String, String] = Map.empty)
      : (Seq[String], Boolean) = {
    val messages = Seq.newBuilder[String]
    val targetNoIds = TypeMapper.toStructType(tableDef.columns)
    // only names the table does not carry yet: a table holding one
    // from before the refusal can still evolve
    LakeTable.requireUnreserved(targetNoIds.fieldNames.toSeq.filterNot(n =>
      md.currentSchema.fieldNames.exists(_.equalsIgnoreCase(n))))
    val changes = SchemaDiff.diff(md.currentSchema, targetNoIds)

    val disallowed = changes.collect { case d: DisallowedChange => d }
    if (disallowed.nonEmpty) {
      disallowed.foreach(d =>
        messages += s"Disallowed change for column ${d.path}: ${d.reason}")
      messages += s"Latest Meta file: ${latestMetaFile()}"
      return (messages.result(), true)
    }

    // a CHECK constraint binds to column NAMES — dropping or renaming
    // a referenced column would make every future commit's validation
    // throw; fail the evolution by name instead (drop the constraint
    // first if the column really must go)
    Constraints.of(md.properties).foreach { case (n, sql) =>
      val refs =
        try Constraints.referencedCols(sql)
        catch { case scala.util.control.NonFatal(_) => Seq.empty }
      refs.foreach(r => require(targetNoIds.fieldNames.contains(r),
        s"cannot drop/rename column '$r': referenced by CHECK " +
          s"constraint '$n' — drop the constraint first"))
    }

    // a live equality-delete batch resolves its key columns by field
    // id at read time — dropping one would make every read (and
    // compact, the escape hatch) throw; fail the evolution instead.
    // STAGED batches (branch MoR commits) count too: their branch
    // views resolve the same way, and fast-forward's schema check
    // would strand the branch with no escape but discard.
    val eqKeyIds = (LakeTable.liveEqDeletes(md.snapshots) ++
      md.staged.flatMap(_.eqDeletes)).flatMap(_.fieldIds).toSet
    if ((eqKeyIds.nonEmpty || md.identifierFieldIds.nonEmpty) &&
        changes.exists(_.isInstanceOf[DropColumn])) {
      val dropped = changes.collect { case DropColumn(p) => p }
      // a drop takes its nested descendants with it — dropping a
      // struct that CONTAINS a key field orphans the batch just as
      // surely as dropping the key itself
      val flat = FieldIds.flatten(md.currentSchema)
      val droppedIds = dropped.flatMap { p =>
        flat.collect { case (path, f)
            if (path == p || path.startsWith(p + ".")) &&
              FieldIds.hasId(f) => FieldIds.idOf(f) }
      }
      require(droppedIds.forall(!eqKeyIds.contains(_)),
        s"cannot drop columns ${dropped.mkString(", ")}: referenced by a " +
          "live equality-delete batch — run compact() to materialize first")
      // the declared row identity must outlive any single writer:
      // dropping an identifier field would leave every key-less CDC
      // writer with no keys mid-stream. Redeclare identifier-fields in
      // the SAME evolution to move the identity — and the redeclared
      // list must actually EXCLUDE the dropped columns (carrying the
      // old property forward doesn't count; that would only fail later
      // with a misleading "no such column")
      val redeclaredAway = tableDef.properties.get("identifier-fields")
        .exists(p => p.split(",").map(_.trim).filter(_.nonEmpty)
          .forall(n => !dropped.contains(n)))
      require(droppedIds.forall(!md.identifierFieldIds.contains(_)) ||
          redeclaredAway,
        s"cannot drop columns ${dropped.mkString(", ")}: part of the " +
          "table's identifier fields — redeclare 'identifier-fields' " +
          "(excluding them) in the same evolution to change the row " +
          "identity")
    }

    changes.foreach {
      case AddColumn(p, _) => messages += s"Added column $p"
      case DropColumn(p) => messages += s"Dropped column $p"
      case UpdateColumnType(p, from, to) =>
        messages += s"Updated column $p: ${from.simpleString} -> ${to.simpleString}"
      case _: DisallowedChange => ()
    }

    var next = md
    if (changes.nonEmpty) {
      val (withIds, nextId) =
        FieldIds.carryOver(md.currentSchema, targetNoIds, md.lastFieldId + 1)
      // initial defaults ride the SAME schema version commit
      // (validated at annotation time — see Defaults.withDefault)
      initialDefaults.keys.foreach(n =>
        require(withIds.fields.exists(_.name == n),
          s"initial default for unknown column '$n'"))
      val annotated = StructType(withIds.fields.map(f =>
        initialDefaults.get(f.name)
          .map(graft.schema.Defaults.withDefault(f, _)).getOrElse(f)))
      val newSchemaId = md.schemas.map(_.id).max + 1
      next = next.copy(
        schemas = next.schemas :+ SchemaVersion(newSchemaId, annotated),
        currentSchemaId = newSchemaId,
        lastFieldId = nextId - 1)
    }

    // partition-spec evolution (iceberg_helper.py:364-378): rebuild the
    // spec against the (possibly new) schema; if fields differ, commit a
    // new spec version — old files keep their old spec id.
    val newSpecFields = LakeTable.buildSpecFields(tableDef.partitions,
      next.currentSchema)
    if (newSpecFields.map(f => (f.sourceFieldId, f.transform, f.name)) !=
        md.currentSpec.fields.map(f => (f.sourceFieldId, f.transform, f.name))) {
      val newSpecId = md.specs.map(_.id).max + 1
      next = next.copy(
        specs = next.specs :+ PartitionSpecMeta(newSpecId, newSpecFields),
        currentSpecId = newSpecId)
      messages += s"Updated partition spec to [${newSpecFields.map(f =>
        s"${f.transform}(src=${f.sourceFieldId}) as ${f.name}").mkString(", ")}]"
    }

    if (tableDef.properties.nonEmpty &&
        tableDef.properties.exists { case (k, v) => md.properties.get(k) != Some(v) }) {
      next = next.copy(properties = md.properties ++ tableDef.properties)
      messages += "Updated table properties"
    }

    // a redeclared identity resolves against the NEW schema (so an
    // evolution can move identity onto a just-added column atomically);
    // changing it with live equality batches outstanding is refused —
    // the old-keyed batches and new-keyed writers would disagree on
    // which rows supersede which
    tableDef.properties.get("identifier-fields").foreach { p =>
      val ids = LakeTable.resolveIdentifierFields(Some(p), next.currentSchema)
      if (ids != md.identifierFieldIds) {
        require(eqKeyIds.isEmpty,
          "cannot change identifier-fields with live equality-delete " +
            "batches — run compact() to materialize them first")
        next = next.copy(identifierFieldIds = ids)
        messages += s"Updated identifier fields to [$p]"
      }
    }

    if (next != md) {
      val metaFile = commit(next)
      messages += s"Latest Meta file: $metaFile"
    } else {
      messages += "No schema changes detected"
      messages += s"Latest Meta file: ${latestMetaFile()}"
    }
    (messages.result(), false)
  }

  /** RENAME COLUMN: a new schema version maps the SAME field ID to the
    * new name — data files are untouched and stay readable because
    * every read reconciles file columns to the target schema by field
    * ID (Reconcile.scala). This is the one evolution verb the
    * reference cannot express: its diff is name-based
    * (`iceberg_helper.py:265-295` would see a drop + an add and lose
    * the column's history), so the engine exposes it directly rather
    * than through a table-def diff. Returns the committed meta file.
    */
  def renameColumn(oldName: String, newName: String): String = {
    val cur = md.currentSchema
    require(cur.fieldNames.contains(oldName),
      s"RENAME: no such column '$oldName' (have ${cur.fieldNames.mkString(", ")})")
    require(!cur.fieldNames.contains(newName),
      s"RENAME: column '$newName' already exists")
    LakeTable.requireUnreserved(Seq(newName))
    val renamed = StructType(cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newSchemaId = md.schemas.map(_.id).max + 1
    commit(md.copy(
      schemas = md.schemas :+ SchemaVersion(newSchemaId, renamed),
      currentSchemaId = newSchemaId))
  }

  // ---- refs & rollback --------------------------------------------------

  private[lake] def latestMetaFile(): String = {
    val hint = metadataDir.resolve("version-hint.text")
    if (Files.exists(hint))
      metadataDir.resolve(s"v${Files.readString(hint).trim}.json").toString
    else "<none>"
  }

  // ---- append ----------------------------------------------------------

  /** Align `df` to the current schema, derive hidden partition columns,
    * write one snapshot of parquet files, record per-file partition
    * values in metadata (A24).
    *
    * With table property `write.merge-schema=true` (Delta's
    * mergeSchema), the append AUTO-EVOLVES first: new top-level
    * columns in the frame are added to the schema (optional, the
    * frame's type), and an existing column that arrived WIDER evolves
    * up when the promotion is legal (int→long, float→double, decimal
    * precision at equal scale) — both through the same
    * SchemaDiff-validated evolution ALTER TABLE runs, committed in
    * the SAME transaction flip as the data. Auto-evolution never
    * weakens validation (illegal promotions are simply not applied —
    * the frame aligns by cast as always); without the property, extra
    * columns keep being dropped by the alignment, exactly as before.
    */
  def append(df: DataFrame, streamBatchId: Option[Long] = None,
      streamId: Option[String] = None): SnapshotMeta = {
    def write() = writeSnapshot(Align(df, md.currentSchema),
      operation = "append", streamBatchId = streamBatchId,
      streamId = streamId)
    if (!autoEvolveNeeded(df)) write()
    else if (txnActive) { autoEvolveFor(df); write() }
    else transaction { _ => autoEvolveFor(df); write() }
  }

  /** Recursive schema merge for auto-evolution: the table's type wins
    * except where the frame legally extends it — new struct fields
    * (any nesting depth, including array-of-struct elements) join as
    * OPTIONAL, and a primitive that arrived legally wider promotes
    * ([[graft.schema.SchemaDiff.promotionAllowed]]); anything else
    * keeps the table's declared type (the frame then aligns by cast,
    * as always). The table side keeps its field-id annotations so the
    * evolution diff matches existing fields untouched.
    */
  private[lake] def mergeTypes(table: DataType, in: DataType,
      ci: Boolean): DataType =
    (Reconcile.clean(table), in) match {
      case (_: StructType, i: StructType) =>
        def norm(n: String) =
          if (ci) n.toLowerCase(java.util.Locale.ROOT) else n
        val t = table.asInstanceOf[StructType]
        val known = t.fields.map(f => norm(f.name)).toSet
        StructType(t.fields.map { tf =>
          i.fields.find(f => norm(f.name) == norm(tf.name)) match {
            case Some(inf) =>
              tf.copy(dataType = mergeTypes(tf.dataType, inf.dataType, ci))
            case None => tf
          }
        } ++ i.fields.filterNot(f => known(norm(f.name))).map(f =>
          StructField(f.name, f.dataType, nullable = true)))
      case (_: ArrayType, ArrayType(ie, _)) =>
        val a = table.asInstanceOf[ArrayType]
        a.copy(elementType = mergeTypes(a.elementType, ie, ci))
      case (t, i) if t != i &&
          graft.schema.SchemaDiff.promotionAllowed(t, i).isRight => i
      case _ => table
    }

  /** Adds/changes are resolved with spark.sql.caseSensitive-aware
    * matching (Delta's mergeSchema contract): under the default
    * case-insensitive resolution a frame column differing only in
    * case ("Price" vs "price") maps onto the EXISTING column — adding
    * it as a new one would produce case-duplicate names that every
    * subsequent resolution makes ambiguous. Change keys carry the
    * TABLE's spelling, which is what `autoEvolveFor` rebuilds from.
    */
  private[lake] def autoEvolveDelta(df: DataFrame)
      : (Seq[StructField], Map[String, DataType]) = {
    val ci = !df.sparkSession.sessionState.conf.caseSensitiveAnalysis
    def norm(n: String) =
      if (ci) n.toLowerCase(java.util.Locale.ROOT) else n
    val byName = md.currentSchema.fields.map(f => norm(f.name) -> f).toMap
    val adds = df.schema.fields.toSeq
      .filterNot(f => byName.contains(norm(f.name)))
    val changes = df.schema.fields.toSeq.flatMap { f =>
      byName.get(norm(f.name)).flatMap { tf =>
        val merged = mergeTypes(tf.dataType, f.dataType, ci)
        if (Reconcile.clean(merged) == Reconcile.clean(tf.dataType))
          None
        else Some(tf.name -> merged)
      }
    }.toMap
    (adds, changes)
  }

  private[lake] def autoEvolveNeeded(df: DataFrame): Boolean =
    md.properties.get("write.merge-schema").contains("true") && {
      val (adds, changes) = autoEvolveDelta(df)
      adds.nonEmpty || changes.nonEmpty
    }

  /** Run the auto-evolution itself — same TableDef path as ALTER
    * TABLE, so field-id assignment, eq-delete/constraint guards, and
    * partition-spec preservation all apply unchanged.
    */
  private[lake] def autoEvolveFor(df: DataFrame): Unit = {
    val (adds, changes) = autoEvolveDelta(df)
    val cols = md.currentSchema.fields.toSeq.map { f =>
      graft.schema.TypeMapper.toColumnDef(f.name,
        changes.getOrElse(f.name, f.dataType), f.nullable)
    } ++ adds.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType,
        nullable = true))
    val spec = md.currentSpec.fields.map { f =>
      val src = graft.schema.FieldIds.flatten(md.currentSchema)
        .collectFirst { case (p, fd)
          if graft.schema.FieldIds.hasId(fd) &&
            graft.schema.FieldIds.idOf(fd) == f.sourceFieldId => p }.get
      graft.schema.PartitionDef(src, f.transform, f.name)
    }
    val db = location.getParent.getFileName.toString
    val tbl = location.getFileName.toString
    val (msgs, hadError) = evolve(graft.schema.TableDef(
      db, tbl, cols, spec, md.properties))
    require(!hadError,
      s"write.merge-schema auto-evolution rejected: " +
        msgs.mkString("; "))
  }

  /** Highest micro-batch id this stream (identified by checkpoint) ever
    * committed into this table — the idempotence baseline for
    * StreamIngest replays. Scoped per stream: batch ids restart at 0
    * under a fresh checkpoint.
    */
  def lastStreamBatchId(streamId: String): Option[Long] =
    // staged snapshots count too: a stream writing to a BRANCH must
    // not replay an epoch it already staged
    (md.snapshots ++ md.staged).filter(_.streamId.contains(streamId))
      .flatMap(_.streamBatchId).reduceOption(_ max _)

  /** SQL `INSERT OVERWRITE` (full table): replace the visible content
    * with `df` as ONE replay-resetting "replace" snapshot — the same
    * reset mechanics as a compaction rewrite, but distinguishable from
    * one because it CHANGES data: branch fast-forward must treat it as
    * divergence (a compaction rewrite is not), while everything else
    * (replay reset, retired position/equality deletes, fresh forward
    * planning, time travel to older ids, CDC/streaming skipping) works
    * the same. No path enumeration — an overwrite-with-removedPaths
    * would inline every live path into the metadata JSON of every
    * later version. Not retried on conflict: a full-content write's
    * meaning depends on what it replaces.
    */
  def overwrite(df: DataFrame): SnapshotMeta =
    writeSnapshot(Align(df, md.currentSchema), operation = "replace")

  /** Compact the table: rewrite the current live file set (already
    * reconciled to the current schema) into one snapshot under the
    * current partition spec. The rewrite snapshot *replaces* all prior
    * files on read — the small-files/dead-schema-version cure at scale:
    * after compaction every live file carries the current schema and
    * spec, so reads become a single scan group again.
    */
  /** Rename a lineage read's projection to the materialized column
    * names a rewrite stores (`_graft_row_id` / `_graft_last_updated`);
    * `touched` rows — the ones this op modifies — null their
    * last-updated so v3 inheritance stamps them with the NEW file's
    * data sequence while untouched rows carry their old one.
    */
  private[lake] def matLineage(df: DataFrame,
      touched: Option[Column] = None): DataFrame = {
    val lastUpd = touched match {
      case Some(cond) => when(cond, lit(null).cast(LongType))
        .otherwise(col("_last_updated_sequence_number"))
      case None => col("_last_updated_sequence_number")
    }
    df.withColumn("_graft_row_id", col("_row_id"))
      .withColumn("_graft_last_updated", lastUpd)
      .drop("_row_id", "_last_updated_sequence_number")
  }

  /** `retryConflicts = false` opts an append OUT of conflict retry for
    * callers whose frame was derived from a read of the table (merge's
    * anti-joined insert set): their content is stale after a
    * concurrent commit, so the conflict must surface.
    */
  private[lake] def writeSnapshot(aligned: DataFrame, operation: String,
      streamBatchId: Option[Long] = None,
      streamId: Option[String] = None,
      removedPaths: Seq[String] = Seq.empty,
      retryConflicts: Boolean = true,
      lineage: Boolean = false): SnapshotMeta = {
    // the files' true write schema: captured BEFORE any reload, since
    // `aligned` was coerced to it by the caller (a retry that crosses
    // a concurrent evolution keeps this id; reads reconcile per group)
    val schemaIdAtWrite = md.currentSchemaId
    // fail fast before writing any data if another handle committed
    // since we loaded — except for retriable plain appends, which
    // catch up NOW (cheaper than burning a commit attempt on a
    // guaranteed conflict) and retry any later conflict in
    // commitSnapshot
    val retriable = retryConflicts && operation == "append" &&
      removedPaths.isEmpty && streamBatchId.isEmpty
    if (currentHintVersion() != loadedVersion) {
      if (retriable) reload()
      else throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    }
    val snapshotId = (md.snapshots ++ md.staged).map(_.id)
      .foldLeft(0L)(math.max) + 1
    // unique dir per write attempt: a racing writer that loses the
    // commit leaves orphan files behind instead of clobbering the
    // winner's snapshot (Iceberg's orphan-file model). The id in the
    // name is a hint — a retried commit may land under a later id.
    val outDir = dataDir.resolve(
      s"snap-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}")
    val files0 = writeDataFiles(aligned, outDir)
    // a lineage rewrite physically wrote _graft_row_id /
    // _graft_last_updated columns — record the flag so lineage reads
    // know to consume them (and inherit through their null cells)
    val files = if (lineage) files0.map(_.copy(lineageCols = true)) else files0
    // crash window under test (MaintenanceSpec torn-write recovery): a
    // death HERE strands outDir as unreferenced files — readers never
    // see them, the orphan sweep collects them, a retry recommits
    LakeTable.faultPoint("post-write-pre-commit")
    commitSnapshot(files, schemaIdAtWrite, operation,
      streamBatchId, streamId, removedPaths, retryConflicts)
  }

  // ---- write-audit-publish (Iceberg's wap.id staging) ------------------

  /** Write one aligned DataFrame as parquet data files under `outDir` —
    * the shared back half of every snapshot-producing write. Every file
    * goes through [[writeDirect]] (the one lake parquet writer); only
    * the DataFrame-level preparation varies with the table:
    *  - a frame whose OPTIMIZED plan is a LocalRelation (rows already
    *    on the driver: a Lambda-style append of a few orders, an
    *    incremental-MV publication) runs the writer once on the driver
    *    over those rows — no Spark job — grouped by partition key, or
    *    under `write.sort-order` cut into `write.sort-buckets` ranges of
    *    it, each sorted by (partition key, sort order), as the job writes;
    *  - every other frame runs it in tasks: hash-distributed by the
    *    partition expressions (Iceberg's `write.distribution-mode=hash`
    *    default — one file per partition value; `none` opts out, any
    *    other value hash-distributes) and sorted by them within each
    *    task, or range-partitioned and sorted by `write.sort-order`.
    * Each file's partition values are in metadata; files lay flat.
    */
  private[lake] def writeDataFiles(aligned0: DataFrame,
      outDir: Path): Seq[DataFileMeta] = {
    val driverRows = LakeTable.localRows(aligned0)
    val schema = md.currentSchema
    val pExprs = partitionColumns.map(_._2)
    // write clustering ("write.sort-order" table property): either a
    // comma-separated column list (lexicographic sort) or
    // "zorder(a,b,…)" (Morton-curve interleave — narrow min/max ranges
    // on EVERY listed column, so predicates on any dimension prune
    // files). Range-partition + sort so each file covers a narrow
    // range — this is what makes stats pruning bite at 100 TB.
    // "write.sort-buckets" pins the range-partition count (else the
    // session default + AQE coalescing decide).
    // plain-column sort orders are recorded per file (field IDs) so the
    // scan can report per-partition ordering; zorder clusters without
    // producing a source-column ordering, so it records nothing
    var plainSortCols: Seq[String] = Seq.empty
    val sortExprs: Seq[Column] = md.properties.get("write.sort-order") match {
      case None => Seq.empty
      case Some(order) =>
        val zorderRe = """(?i)zorder\s*\(([^)]*)\)""".r
        order.trim match {
          case zorderRe(colSpec)
              if colSpec.split(",").count(_.trim.nonEmpty) >= 2 =>
            // z-order needs each column scaled to its batch min/max
            // (raw 64-bit interleave would collapse — see ZOrderValue):
            // one cheap columnar min/max pass over the batch, then bin
            // to 2^(63/n) buckets and interleave
            val cols = colSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val bits = 63 / cols.size
            val bins = BigDecimal(1L << bits)
            val asDouble = cols.map(c => col(s"`$c`").cast("double"))
            // (min, max) per column; rows on the driver are scanned there
            // (NaN largest, as Spark's min/max order it)
            val stats: Seq[(Option[Double], Option[Double])] = driverRows match {
              case Some(rows) =>
                graft.sources.WritePlan.bind(aligned0.sparkSession,
                    aligned0.schema, asDouble).map { e =>
                  val vs = rows.flatMap(r => Option(e.eval(r)))
                    .map(_.asInstanceOf[Double])
                  (vs.minOption(Ordering.Double.TotalOrdering),
                    vs.maxOption(Ordering.Double.TotalOrdering))
                }
              case None =>
                val row = aligned0.select(asDouble.flatMap(c =>
                  Seq(min(c), max(c))): _*).collect()(0)
                cols.indices.map(i => (Option(row.get(2 * i)),
                  Option(row.get(2 * i + 1))))
                  .map { case (lo, hi) => (lo.map(_.toString.toDouble),
                    hi.map(_.toString.toDouble)) }
            }
            graft.functions.VectorFunctions.register(aligned0.sparkSession)
            val binned = cols.zipWithIndex.map { case (c, i) =>
              val lo = stats(i)._1.getOrElse(0.0)
              val hi = stats(i)._2.getOrElse(0.0)
              val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
              least(
                floor((col(s"`$c`").cast("double") - lit(lo)) / lit(span) * lit(bins.toDouble)),
                lit(bins.toDouble - 1)).cast("long")
            }
            Seq(graft.functions.VectorFunctions.zorder(binned: _*))
          case other =>
            // single-column zorder(c) degenerates to a plain sort on c
            // (and 63/1 bits would overflow the bin count); zorder()
            // with no columns means no clustering
            val plain = other match {
              case zorderRe(colSpec) => colSpec
              case p => p
            }
            val cols = plain.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            plainSortCols = cols
            cols.map(c => col(s"`$c`"))
        }
    }
    // identical for every file of this write; case-insensitive to
    // match how col(`c`) resolved the sort itself (an id that fails to
    // resolve leaves sortedByIds empty = ordering unknown)
    val sortedIds = plainSortCols.flatMap(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(FieldIds.idOf))
    val recordedSortIds =
      if (sortedIds.size == plainSortCols.size) sortedIds else Seq.empty
    // rows sort by the partition expressions first, so each rendered
    // key is ONE contiguous run and the writer's closeOnKeyChange mode
    // holds a single open file at any partition cardinality (the
    // sorted dynamic-partition contract of FileFormatWriter); the sort
    // order follows within each partition value
    val rowOrder = pExprs ++ sortExprs
    driverRows match {
      case Some(rows) =>
        import org.apache.spark.sql.catalyst.expressions.{Ascending, InterpretedOrdering, SortOrder}
        def sortedBy(rs: Seq[org.apache.spark.sql.catalyst.InternalRow],
            by: Seq[Column]) =
          rs.sorted(new InterpretedOrdering(graft.sources.WritePlan.bind(
            aligned0.sparkSession, aligned0.schema, by)
            .map(SortOrder(_, Ascending))))
        // as the job range-partitions by the sort order into
        // "write.sort-buckets" tasks: the rows sorted by it, cut into as
        // many contiguous runs (one file per partition value each), each
        // run then sorted by (partition key, sort order)
        val runs =
          if (sortExprs.isEmpty) Seq(rows)
          else {
            val n = md.properties.get("write.sort-buckets")
              .map(_.trim.toInt).getOrElse(1).min(rows.size).max(1)
            val ranged = sortedBy(rows, sortExprs)
            (0 until n).map(i =>
              ranged.slice(i * ranged.size / n, (i + 1) * ranged.size / n))
              .map(r => if (pExprs.isEmpty) r else sortedBy(r, rowOrder))
          }
        writeDirect(aligned0, outDir, recordedSortIds, Some(runs))
      case None =>
        // a local frame that did not optimize to a LocalRelation is
        // still bounded by its local rows — publish it as ONE task:
        // LocalTableScan otherwise parallelizes to
        // leafNodeDefaultParallelism slices (= cores), and N tiny
        // files' footer/stats/manifest cost dominates the commit
        val aligned =
          if (LakeTable.isLocalPlan(aligned0)) aligned0.coalesce(1)
          else aligned0
        val distributed =
          if (sortExprs.nonEmpty) {
            val ranged = md.properties.get("write.sort-buckets")
              .map(_.trim.toInt) match {
              case Some(n) => aligned.repartitionByRange(n, sortExprs: _*)
              case None => aligned.repartitionByRange(sortExprs: _*)
            }
            ranged.sortWithinPartitions(rowOrder: _*)
          } else if (pExprs.isEmpty) aligned
          else {
            val base =
              if (md.properties.get("write.distribution-mode").contains("none"))
                aligned
              else aligned.repartition(pExprs: _*)
            base.sortWithinPartitions(pExprs: _*)
          }
        writeDirect(distributed, outDir, recordedSortIds)
    }
  }

  /** The current spec's partition fields as (name, `Transforms.expr`
    * column over the source column path) — what the writer renders
    * per row and the task-mode write distributes and sorts by. */
  private[graft] def partitionColumns: Seq[(String, Column)] = {
    val flat = FieldIds.flatten(md.currentSchema)
    md.currentSpec.fields.map { f =>
      val (srcName, srcField) = flat
        .collectFirst { case (p, fd) if FieldIds.idOf(fd) == f.sourceFieldId => (p, fd) }
        .getOrElse(throw new IllegalStateException(
          s"spec source field ${f.sourceFieldId} not in schema"))
      f.name -> Transforms.expr(f.transform, col(srcName), Some(srcField.dataType))
    }
  }

  /** "write.option.<k>" table properties: parquet writer settings
    * (e.g. write.option.parquet.bloom.filter.enabled#col=true adds a
    * parquet bloom filter for row-group skipping on point lookups). */
  private[graft] def writerOptions: Map[String, String] =
    md.properties.collect {
      case (k, v) if k.startsWith("write.option.") =>
        k.stripPrefix("write.option.") -> v
    }

  /** The file sink of [[writeDataFiles]]: one job whose tasks write
    * `df` through [[graft.sources.LakeParquetDataWriter]] under the
    * table's [[graft.sources.WritePlan]], or with `driverRuns` the
    * same task body run on the driver, once per run. The tasks also build each
    * file's bloom filters (`write.bloom-columns`) from the rows they
    * write and read its footer stats right after close, so nothing is
    * read back. A failed task aborts its own files and the survivors
    * are orphans for the maintenance sweep (the DSv2 write contract).
    */
  private def writeDirect(df: DataFrame, outDir: Path,
      sortedByIds: Seq[Int],
      driverRuns: Option[Seq[Seq[org.apache.spark.sql.catalyst.InternalRow]]] =
        None): Seq[DataFileMeta] = {
    val bloomPlan = bloomTargets().map { case (n, fid) =>
      val ord = df.schema.fieldNames.indexOf(n)
      require(ord >= 0, s"bloom column '$n' is not in the write schema")
      graft.sources.BloomWriteCol(n, fid, ord, df.schema(ord).dataType)
    }
    val res = LakeTable.writeViaTaskWriterRich(
      df, outDir, graft.sources.LakeStreamingWrite.writePlan(this, df.schema,
        df.sparkSession),
      bloomPlan, dataDir, statsSchema = md.currentSchema,
      driverRuns = driverRuns)
    res.files.map { case (p, partVals) =>
      val (rows, stats, bytes) = res.stats.getOrElse(p,
        throw new IllegalStateException(s"no task stats for written file $p"))
      val blooms =
        if (bloomPlan.isEmpty) Seq.empty
        else res.blooms.getOrElse(p, throw new IllegalStateException(
          s"no bloom filters for written file $p"))
      DataFileMeta(p, md.currentSchemaId, md.currentSpec.id,
        rows = rows, partitionValues = partVals, stats = stats,
        bytes = bytes, sortedByIds = sortedByIds, blooms = blooms)
    }
  }

  /** Reload this handle's view of the table to the committed head —
    * the optimistic-concurrency retry primitive.
    */
  private[lake] def reload(): Unit = {
    // a reload would clobber the buffered transactional state and
    // rebuild later ops on another writer's commit — the transaction
    // must abort instead. ConcurrentModificationException, NOT an
    // IllegalState: the caller's documented contract is
    // "reload-and-retry on CME", and a mid-body conflict must hit the
    // same catch as the closing-CAS conflict so whole-transaction
    // retries work (the txn wrapper rolls the handle back first)
    if (txnActive) throw new java.util.ConcurrentModificationException(
      s"table $location was committed concurrently mid-transaction; " +
        "the transaction aborted — reload and retry the whole body")
    val v = currentHintVersion()
    md = MetadataIO.fromJson(Json.parse(
      Files.readString(metadataDir.resolve(s"v$v.json"))), metadataDir)
    loadedVersion = v
  }

  /** Plain appends are read-independent — the new files reference no
    * stale rewrite/removal decision — so a commit conflict retries
    * Iceberg-style: reload the head, re-point the already-written data
    * files at a fresh snapshot id, commit again. Correct across a
    * concurrent schema/spec evolution too (files keep their write-time
    * schemaId/specId; the read path reconciles per group), and a fresh
    * higher snapshot id keeps equality-delete sequencing right (live
    * batches never mask rows appended after them). Copy-on-write and
    * merge-on-read row-level ops do NOT retry — their rewrite sets
    * were computed against the stale snapshot — and streaming-batch
    * appends don't either (their idempotence check must re-run against
    * the new head). An abandoned version claim (vN+1 exists, pointer
    * never flipped) still surfaces after the bounded retries.
    */
  private[lake] def commitSnapshot(files: Seq[DataFileMeta], schemaId: Int,
      operation: String, streamBatchId: Option[Long],
      streamId: Option[String],
      removedPaths: Seq[String] = Seq.empty,
      retryConflicts: Boolean = true): SnapshotMeta = {
    val retriable = retryConflicts && operation == "append" &&
      removedPaths.isEmpty && streamBatchId.isEmpty
    retryingCommit(retriable,
      build = snapshotId => SnapshotMeta(snapshotId, files, schemaId,
        operation, streamBatchId, streamId, removedPaths,
        timestampMs = System.currentTimeMillis()),
      apply = snap => md.copy(snapshots = md.snapshots :+ snap))
  }

  // ---- partition-spec evolution (SQL surface) --------------------------

  /** Current spec rendered back to PartitionDefs (source field ids →
    * schema paths) — the editable form `ALTER TABLE ... ADD/DROP
    * PARTITION FIELD` manipulates.
    */
  private[lake] def currentPartitionDefs: Seq[PartitionDef] = {
    val flat = FieldIds.flatten(md.currentSchema)
    md.currentSpec.fields.map { f =>
      val path = flat.collectFirst {
        case (p, sf) if FieldIds.hasId(sf) &&
          FieldIds.idOf(sf) == f.sourceFieldId => p
      }.getOrElse(throw new IllegalStateException(
        s"spec source field ${f.sourceFieldId} not in current schema"))
      PartitionDef(path, f.transform, f.name)
    }
  }

  /** `ALTER TABLE ... ADD PARTITION FIELD <transform> [AS name]`:
    * append one derived field and commit a new spec version — the same
    * multi-spec semantics as the table-def path (reference
    * `iceberg_helper.py:364-378`): old files keep their old spec id
    * (reads prune conservatively across specs), new writes partition
    * by the extended spec. Auto-names follow Iceberg's convention
    * (`ts_day`, `id_bucket`, `id_trunc`; identity keeps the column
    * name).
    */
  def addPartitionField(column: String, transform: String,
      name: Option[String] = None): Seq[String] = {
    require(Transforms.isSupported(transform),
      s"unsupported partition transform '$transform' (identity/year/" +
        "month/day/hour/bucket[N]/truncate[W])")
    val base = column.replace('.', '_')
    val auto =
      if (transform == "identity") base
      else if (Transforms.bucketCount(transform).isDefined) s"${base}_bucket"
      else if (Transforms.truncateWidth(transform).isDefined) s"${base}_trunc"
      else s"${base}_$transform"
    val n = name.getOrElse(auto)
    val defs = currentPartitionDefs
    require(!defs.exists(_.name == n),
      s"partition field '$n' already exists")
    require(!defs.exists(d => d.column == column && d.transform == transform),
      s"partition field $transform($column) already exists as " +
        defs.find(d => d.column == column && d.transform == transform)
          .get.name)
    evolveSpecTo(defs :+ PartitionDef(column, transform, n))
  }

  /** `ALTER TABLE ... DROP PARTITION FIELD` by field name. */
  def dropPartitionField(name: String): Seq[String] = {
    val defs = currentPartitionDefs
    require(defs.exists(_.name == name),
      s"no partition field '$name' (have " +
        s"${defs.map(_.name).mkString(", ")})")
    evolveSpecTo(defs.filterNot(_.name == name))
  }

  /** `ALTER TABLE ... DROP PARTITION FIELD <transform>(<col>)`. */
  def dropPartitionField(column: String, transform: String): Seq[String] = {
    val defs = currentPartitionDefs
    require(defs.exists(d => d.column == column && d.transform == transform),
      s"no partition field $transform($column) (have " +
        defs.map(d => s"${d.transform}(${d.column})").mkString(", ") + ")")
    evolveSpecTo(defs.filterNot(d =>
      d.column == column && d.transform == transform))
  }

  private[lake] def evolveSpecTo(defs: Seq[PartitionDef]): Seq[String] = {
    if (currentHintVersion() != loadedVersion)
      throw new java.util.ConcurrentModificationException(
        s"table $location was committed concurrently; reload and retry")
    val newFields = LakeTable.buildSpecFields(defs, md.currentSchema)
    if (newFields.map(f => (f.sourceFieldId, f.transform, f.name)) ==
        md.currentSpec.fields.map(f => (f.sourceFieldId, f.transform, f.name)))
      return Seq("No partition-spec changes detected")
    val newSpecId = md.specs.map(_.id).max + 1
    commit(md.copy(
      specs = md.specs :+ PartitionSpecMeta(newSpecId, newFields),
      currentSpecId = newSpecId))
    Seq(s"Updated partition spec to [${newFields.map(f =>
      s"${f.transform}(src=${f.sourceFieldId}) as ${f.name}").mkString(", ")}]")
  }

  // ---- read ------------------------------------------------------------

  /** Unified read across every snapshot and schema version, served by
    * the DSv2 connector ([[graft.sources.LakeSource.engineRead]]): a
    * `DataSourceV2Relation` over the table pinned to THIS handle's view
    * (snapshot log, schema, an open transaction's staged state). Each
    * file is reconciled to the read schema by field ID inside the
    * reader, and position deletes, deletion vectors and equality
    * batches apply there too — no anti-join, no broadcast job — while
    * column pruning and row-group skipping of any filter the caller
    * adds push into the scan. It reads the files `prune` and
    * `statsFilters` keep, packed into tasks by Spark's file-source
    * rule, and is declared like a parquet read: every column nullable,
    * no field metadata (SURVEY.md §4.3).
    *
    * `prune`: partition-field name → allowed values. A file is skipped
    * only when its own spec recorded that field with a non-matching
    * value — files from specs without the field are conservatively kept
    * (multi-spec correctness, SURVEY.md §7.2). `statsFilters` further
    * drops files by min/max column statistics. `asOfSnapshot` reads the
    * live state at that snapshot under the schema current then.
    */
  def read(spark: SparkSession,
      prune: Map[String, Set[String]] = Map.empty,
      asOfSnapshot: Option[Long] = None,
      statsFilters: Seq[RangeFilter] = Seq.empty): DataFrame = {
    // time travel: restrict to snapshots <= asOf and reconcile to the
    // schema that was current when that snapshot committed
    asOfSnapshot.foreach(sid =>
      require(md.snapshots.exists(_.id == sid), s"no snapshot $sid"))
    graft.sources.LakeSource.engineRead(spark, this, prune, asOfSnapshot,
      statsFilters)
  }

  /** The table with its row-lineage columns (Iceberg v3): `_row_id` —
    * a table-wide stable identity assigned at first commit and
    * PRESERVED by rewrites (compaction, copy-on-write, update copies
    * carry a materialized id column) — and
    * `_last_updated_sequence_number`, the data sequence of the commit
    * that last wrote the row. Rows written before lineage existed
    * (unstamped files) read a null `_row_id` until a rewrite
    * materializes them. Same snapshot/delete semantics as [[read]] —
    * it IS [[read]] plus the connector's `_graft_row_id` /
    * `_graft_last_updated` metadata columns, where each input
    * partition carries only its own file's constants (O(1) per task,
    * like Iceberg's per-split first_row_id).
    */
  def readLineage(spark: SparkSession,
      asOfSnapshot: Option[Long] = None): DataFrame = {
    asOfSnapshot.foreach(sid =>
      require(md.snapshots.exists(_.id == sid), s"no snapshot $sid"))
    withLineage(graft.sources.LakeSource.engineRead(spark, this,
      asOfSnapshot = asOfSnapshot))
  }

  /** `rows` (a connector read) plus `_row_id` and
    * `_last_updated_sequence_number` from its lineage metadata
    * columns.
    */
  private def withLineage(rows: DataFrame): DataFrame = {
    import graft.sources.LakeSource.{LastUpdMetaCol, RowIdMetaCol}
    rows.select(rows.columns.toSeq.map(c => col(s"`$c`")) ++ Seq(
      col(RowIdMetaCol).as("_row_id", Metadata.empty),
      col(LastUpdMetaCol).as("_last_updated_sequence_number",
        Metadata.empty)): _*)
  }

  /** Live files surviving partition + stats pruning under the current
    * schema — the scan-planning primitive, exposed for tooling/tests.
    */
  def plannedFiles(prune: Map[String, Set[String]] = Map.empty,
      statsFilters: Seq[RangeFilter] = Seq.empty,
      asOfSnapshot: Option[Long] = None): Seq[DataFileMeta] = {
    val visible = asOfSnapshot match {
      case Some(sid) =>
        require(md.snapshots.exists(_.id == sid), s"no snapshot $sid")
        md.snapshots.filter(_.id <= sid)
      case None => md.snapshots
    }
    val current = asOfSnapshot match {
      case Some(sid) => md.schemaById(visible.find(_.id == sid).get.schemaId)
      case None => md.currentSchema
    }
    LakeTable.matchingFiles(
      LakeTable.liveFiles(visible, prune, current, statsFilters),
      current, prune, statsFilters, md.schemaOpt)
  }

  /** An explicit file list read under an explicit delete state, as
    * given, through the same pinned connector scan as [[read]]
    * ([[graft.sources.LakeReadState]]): each file reconciled to this
    * handle's current schema, its position deletes, deletion vector
    * and applicable equality batches (batch seq > file seq) applied
    * inside the reader. With `lineage`, rows carry `_row_id` and
    * `_last_updated_sequence_number` as [[readLineage]]'s do. The
    * callers read a file set that is not a snapshot's live view:
    *  - constraint validation (`validateFiles`, CHECK scans) reads
    *    only the files their footers and stats could not prove;
    *  - incremental and changelog reads (`changesBetween`, the
    *    changelog views) read a snapshot range's added or removed
    *    files;
    *  - scoped compaction (`compactScoped`) and the copy-on-write
    *    DELETE/UPDATE/MERGE rewrite the files they selected, with the
    *    live deletes and lineage;
    *  - branch and write-audit-publish reads (`readBranch`,
    *    `readStaged`) and branch copy-on-write read a fork-base or
    *    live state plus re-sequenced staged commits.
    */
  private[graft] def readPinned(spark: SparkSession,
      files: Seq[DataFileMeta],
      deletes: Map[String, DeleteSet] = Map.empty,
      eqDeletes: Seq[EqDeleteMeta] = Seq.empty,
      lineage: Boolean = false): DataFrame = {
    val rows = graft.sources.LakeSource.engineRead(spark, this,
      state = Some(graft.sources.LakeReadState(files, deletes, eqDeletes)))
    if (lineage) withLineage(rows) else rows
  }

  // ---- maintenance -----------------------------------------------------

  /** Expire snapshots with id <= `keepAfter`, keeping at least the
    * current live state readable: expired snapshots are squashed into
    * one synthetic "rewrite" snapshot holding the live file set AS OF
    * the newest expired snapshot, so later appends/overwrites replay
    * unchanged. Time travel to expired ids stops working (that is the
    * point — bounded metadata); data files still referenced by the
    * squashed live set are kept on disk, now-unreferenced ones become
    * orphans for removeOrphanFiles. Streaming note: the squash keeps no
    * per-snapshot streamBatchId, so keep `keepAfter` older than any
    * stream checkpoint that might still replay (Iceberg's own
    * expire-vs-streaming caveat).
    */
  /** One "rewrite" snapshot representing the LIVE state of `snaps`:
    * live files with their original sequence numbers (stamped by
    * `liveFiles`), live merge-on-read position-delete state, and live
    * equality batches carried with their original sequences. Replay
    * treats a rewrite as a reset, so the result replays identically to
    * the snapshots it summarizes. Shared by the expire squash (which
    * REPLACES the prefix) and `rewriteManifests` (which APPENDS it).
    */
  private[lake] def liveStateSnapshot(snaps: Seq[SnapshotMeta], id: Long,
      schemaId: Int, timestampMs: Long): SnapshotMeta = {
    val liveDel = LakeTable.liveDeletes(snaps)
    // parquet-positional and vector delete state carry separately:
    // replay of the squash reconstructs parquet entries from
    // delete-counts and vector entries from the carried DvMeta (whose
    // cardinality IS the live deleted count — see `liveDeletes`)
    val (vectored, positional) = liveDel.partition(_._2.dv.isDefined)
    SnapshotMeta(
      id = id,
      files = LakeTable.liveFiles(snaps),
      schemaId = schemaId,
      timestampMs = timestampMs,
      operation = "rewrite",
      deletePaths = positional.values.flatMap(_.paths).toSeq.distinct,
      deleteCounts = positional.map { case (p, ds) => p -> ds.rows },
      eqDeletes = LakeTable.liveEqDeletes(snaps),
      dvs = vectored.values.flatMap(_.dv).toSeq.sortBy(_.dataPath))
  }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES`: merge `set` into and
    * drop `unset` from the table properties — the knobs steering
    * write clustering (write.sort-order), distribution, commit retry,
    * and metadata retention. Metadata-only commit; snapshots and
    * schemas untouched.
    */
  def updateProperties(set: Map[String, String],
      unset: Seq[String] = Seq.empty): Unit = {
    // numeric knobs validate at DDL time — a malformed value would
    // otherwise surface as a parse error on every later write
    Seq("commit.retry.num-retries", "metadata.previous-versions-max",
      "write.sort-buckets").foreach(k => set.get(k).foreach(v =>
      require(scala.util.Try(v.toInt).isSuccess,
        s"table property '$k' needs an integer value, got '$v'")))
    var next = md.copy(properties = md.properties ++ set -- unset)
    // format-version is the table's STRUCTURAL version (Iceberg's
    // upgrade flow: SET TBLPROPERTIES('format-version'='3') promotes
    // the metadata field). Monotonic — a v3 table has vectored delete
    // state a v2 reader would misread, so downgrades refuse.
    set.get("format-version").foreach { v =>
      val fv = v.trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"table property 'format-version' needs an integer, got '$v'"))
      require(fv >= md.formatVersion,
        s"cannot downgrade format-version from ${md.formatVersion} to $fv")
      next = next.copy(formatVersion = fv)
    }
    require(!unset.contains("format-version"),
      "format-version is structural metadata — it cannot be unset")
    // identifier-fields is not just a string knob: the declared row
    // identity lives in metadata as resolved FIELD IDS. Re-resolve on
    // every set/unset so the SQL TBLPROPERTIES path cannot leave the
    // property and the identity silently diverged — with the same
    // live-equality-batch guard as a declared-identity evolution.
    if (set.contains("identifier-fields") ||
        unset.contains("identifier-fields")) {
      val ids = LakeTable.resolveIdentifierFields(
        next.properties.get("identifier-fields"), md.currentSchema)
      if (ids != md.identifierFieldIds) {
        require(LakeTable.liveEqDeletes(md.snapshots).isEmpty &&
            md.staged.forall(_.eqDeletes.isEmpty),
          "cannot change identifier-fields with live equality-delete " +
            "batches — run compact() to materialize them first")
        next = next.copy(identifierFieldIds = ids)
      }
    }
    commit(next)
  }

}

object LakeTable {

  /** A CREATE, evolution or rename asked for a top-level column name
    * the read path claims (`LakeSource.isReservedColumn`).
    */
  final class ReservedColumnNameException(name: String)
      extends IllegalArgumentException(s"column name '$name' is reserved " +
        "for the engine's metadata and row-index columns")

  /** Refuses the first of `names` that is reserved. */
  private[lake] def requireUnreserved(names: Seq[String]): Unit =
    names.find(graft.sources.LakeSource.isReservedColumn)
      .foreach(n => throw new ReservedColumnNameException(n))

  /** A written-but-unflipped metadata claim: the output of commit
    * phase 1 ([[LakeTable!.writeClaim]]), the input of phase 2
    * ([[LakeTable!.flipClaim]]). The cross-table coordinator holds one
    * per participant between the claim round and the final record.
    */
  private[lake] final case class Claim(table: LakeTable, version: Int,
      target: Path, ext: TableMetadata, manifests: Seq[Path])

  /** The `k<fieldId>`-columned frame of one equality batch, at the
    * batch's WRITE types (callers cast to the resolved read types). A
    * SMALL batch (the incremental-MV / upsert publication shape) is
    * re-read by every MoR read, changelog and recompute probe of its
    * range: its marker files decode ONCE on the driver, through the
    * connector's delete-file reader, into a byte-bounded JVM cache,
    * and every read plans a LocalRelation (no Spark job; a
    * LocalRelation build side broadcasts without one). Sound: marker
    * files are immutable once committed (a lost write attempt's files
    * are never referenced). Bigger batches keep the distributed scan.
    */
  private[graft] def eqBatchFrame(spark: SparkSession,
      b: EqDeleteMeta): DataFrame = {
    val total = b.paths.foldLeft(0L) { (acc, p) =>
      acc + (try Files.size(Paths.get(p))
      catch { case _: Exception => Long.MaxValue / 4 })
    }
    // one batch is schema-homogeneous by construction (written by one
    // writeEqDeleteBatch) — its footer IS its schema, so the reads
    // skip the inference job either way
    lazy val batchSchema = StructType(FileStats.sparkSchemaFromFooter(
      b.paths.head).fields.map(_.copy(nullable = true)))
    if (total > SmallBatchBytes)
      spark.read.schema(batchSchema).parquet(b.paths: _*)
    else {
      val key = b.paths.sorted.mkString("\u0000")
      val (schema, rows) = smallBatchCache.getOrLoad(key, 0L) {
        val toUnsafe = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(batchSchema)
        (batchSchema, b.paths.flatMap { p =>
          val it = graft.sources.LakeSource.deleteFileRows(p, batchSchema)
          try it.map(r => toUnsafe(r).copy()).toVector
          finally it.close()
        })
      }
      org.apache.spark.sql.GraftPlanBridge.ofRows(spark,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          schema.fields.toSeq.map(f =>
            org.apache.spark.sql.catalyst.expressions
              .AttributeReference(f.name, f.dataType, f.nullable)()),
          rows))
    }
  }

  /** Marker batches at or below this total size localize through
    * [[smallBatchCache]]; ~1 MiB of key parquet is ~50-100k keys —
    * far past it the broadcast side deserves a distributed scan. */
  private val SmallBatchBytes = 1L << 20

  /** Physical schema of every positional-delete parquet file — pinned
    * by the two writers (commitMoR's select and LakeDeltaWriter's
    * deleteSchema). Passing it to the reads skips schema inference,
    * which launches a footer-merge Spark job per call (r17). */
  private[graft] val DeleteFileSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("pos", LongType)))

  /** Driver-side parallel map for per-file commit work (footer stats
    * reads: one open + footer parse per file, independent and
    * IO-bound). Sequential below 3 items — the pool handoff costs more
    * than it saves there; a compaction committing hundreds of files
    * cuts its stats pass by ~min(nFiles, parallelism)×.
    */
  private[lake] def parMapFiles[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(3) < 0) xs.map(f)
    else {
      val in = xs.toIndexedSeq
      val out = new Array[Any](in.size)
      java.util.stream.IntStream.range(0, in.size).parallel()
        .forEach(i => out(i) = f(in(i)))
      out.toSeq.map(_.asInstanceOf[B])
    }

  /** Everything a rich task write returns beyond the file list: bloom
    * refs, per-file (rows, stats, bytes), and the countOrdinal value
    * histogram — each present only when the matching input asked. */
  private[lake] case class TaskWriteOut(
      files: Seq[(String, Map[String, String])],
      blooms: Map[String, Seq[BloomRef]],
      stats: Map[String, (Long, Map[Int, ColStats], Long)],
      counts: Map[String, Long])

  /** One job that writes `df` as parquet under `dir` through the one
    * lake writer ([[graft.sources.LakeParquetDataWriter]]) and returns
    * each task's (path, partitionValues) — no FileFormatWriter
    * planning, no commit-protocol staging/rename (~100-150 ms per
    * write at sf0.1). A failed task aborts its own files; survivors
    * are orphans for the maintenance sweep (the DSv2 write contract).
    * Pass [[graft.sources.WritePlan.empty]] for unpartitioned
    * marker/delete writes.
    */
  private[lake] def writeViaTaskWriter(df: DataFrame, dir: Path,
      plan: graft.sources.WritePlan): Seq[(String, Map[String, String])] =
    writeViaTaskWriterRich(df, dir, plan, Seq.empty, null).files

  /** [[writeViaTaskWriter]] with in-task bloom fusion (r18): when
    * `bloomPlan` is non-empty each task hashes the rows AS IT WRITES
    * them (the same null-gated xxhash64-of-cast-to-string projection
    * the read-back build ran), builds one filter per (file, column),
    * writes one `.gbf` container per task under `bloomDir`, and ships
    * only the ~40-byte refs back with the file list — the r17 path
    * re-read every just-written file through an extra Spark job (plus
    * a row shuffle past the small-delta bounds); the rows are already
    * in hand at write time, at ANY scale. `driverRuns` (the rows of a
    * frame whose optimized plan is a LocalRelation, in one or more runs)
    * runs the same task body on the driver once per run instead of
    * launching the job. Either way
    * the writer runs under the frame's session confs (its VARIANT
    * shredding limits), as a FileFormatWriter job's writers do.
    */
  private[lake] def writeViaTaskWriterRich(df: DataFrame, dir: Path,
      plan: graft.sources.WritePlan,
      bloomPlan: Seq[graft.sources.BloomWriteCol], bloomDir: Path,
      statsSchema: StructType = null,
      countOrdinal: Int = -1,
      driverRuns: Option[Seq[Seq[org.apache.spark.sql.catalyst.InternalRow]]] =
        None): TaskWriteOut = {
    Files.createDirectories(dir)
    val out = dir.toString
    val bloomOut = Option(bloomDir).map(_.toString).orNull
    val writeSchema = df.schema
    // partitioned writes arrive sorted by the transform expressions
    // (the caller's contract) — one open file per task at any
    // cardinality; unsorted keys would only split into extra files
    val keyed = plan.partNames.nonEmpty
    val task = (i: Int, it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
      if (!it.hasNext)
        Iterator.empty[graft.sources.LakeFilesBloomCommit]
      else {
        val w = new graft.sources.LakeParquetDataWriter(
          out, writeSchema, plan, s"b$i", closeOnKeyChange = keyed,
          bloomPlan = bloomPlan, bloomDir = bloomOut,
          statsSchema = statsSchema, countOrdinal = countOrdinal)
        try {
          it.foreach(w.write)
          w.commit() match {
            case c: graft.sources.LakeFilesBloomCommit =>
              Iterator.single(c)
            case c: graft.sources.LakeFilesCommit =>
              Iterator.single(graft.sources.LakeFilesBloomCommit(
                c.files, Seq.empty, Seq.empty))
          }
        } catch { case e: Throwable => w.abort(); throw e }
      }
    val msgs = org.apache.spark.sql.GraftPlanBridge.withSessionConf(
        df.sparkSession, jobs = driverRuns.isEmpty) {
      driverRuns match {
        case Some(runs) =>
          // rows already on the driver: one run of the task body here
          // per run, no job. Grouped stably by rendered partition key, so
          // each value is one contiguous run → one file, as hash+sort
          // gives the distributed run.
          def grouped(rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =
            if (!keyed) rows.iterator
            else {
              val keyOf = plan.keys()
              val groups = scala.collection.mutable.LinkedHashMap.empty[
                Seq[String],
                scala.collection.mutable.ArrayBuffer[
                  org.apache.spark.sql.catalyst.InternalRow]]
              rows.foreach { r =>
                groups.getOrElseUpdate(keyOf(r),
                  scala.collection.mutable.ArrayBuffer.empty) += r
              }
              groups.valuesIterator.flatMap(_.iterator)
            }
          runs.zipWithIndex.flatMap { case (r, i) => task(i, grouped(r)) }
            .toArray
        case None =>
          df.queryExecution.toRdd.mapPartitionsWithIndex(task).collect()
      }
    }
    // blobs shipped by small tasks fold into ONE driver-written
    // container (the r17 small-delta layout — routine lifecycle writes
    // keep one .gbf per write); big tasks already wrote their own
    val shipped = msgs.flatMap(_.shipped).toSeq
    val shippedRefs: Seq[(String, Seq[BloomRef])] =
      if (shipped.isEmpty) Seq.empty
      else {
        Files.createDirectories(bloomDir)
        val container = bloomDir.resolve(
          s"blooms-${java.util.UUID.randomUUID().toString.take(12)}.gbf")
        val spans = BloomFilters.writeContainer(container,
          shipped.flatMap(_._2)).toIndexedSeq
        var idx = -1
        shipped.map { case (p, blobs) =>
          (p, bloomPlan.zip(blobs).map { case (b, _) =>
            idx += 1
            BloomRef(b.fieldId, container.toString, spans(idx)._1,
              spans(idx)._2, BloomFilters.K)
          })
        }
      }
    TaskWriteOut(
      msgs.flatMap(_.files).toSeq,
      (msgs.flatMap(_.refs) ++ shippedRefs).toMap,
      msgs.flatMap(_.fileStats).toMap,
      msgs.iterator.flatMap(_.valueCounts)
        .foldLeft(Map.empty[String, Long]) { case (acc, (k, v)) =>
          acc.updated(k, acc.getOrElse(k, 0L) + v)
        })
  }

  private val smallBatchCache = new BlobCache[
    (StructType, Seq[org.apache.spark.sql.catalyst.expressions.UnsafeRow])](
    64L << 20, { case (_, rows) => rows.map(_.getSizeInBytes.toLong).sum + 1024L })

  /** Every leaf of the frame's OPTIMIZED plan is a LocalRelation — the
    * rows are on the driver, so the frame is bounded by construction:
    * built from local rows (the incremental-MV publication shape), or
    * read from a lake scan small enough to decode on the driver
    * ([[graft.sources.LakeLocalScan]]). Such writes coalesce to one
    * task/file: LocalTableScan otherwise parallelizes its handful of
    * rows to leafNodeDefaultParallelism (= cores) slices.
    */
  private[lake] def isLocalPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      LocalRelation, Repartition, RepartitionByExpression}
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    leaves.nonEmpty && leaves.forall(_.isInstanceOf[LocalRelation]) &&
      // a caller that explicitly re-partitioned its local rows asked
      // for that parallelism/file spread — respect it
      !df.queryExecution.logical.exists {
        case _: Repartition | _: RepartitionByExpression => true
        case _ => false
      }
  }

  /** The rows of a local frame ([[isLocalPlan]]) whose optimized plan
    * folds to a LocalRelation: they are on the driver, so a write of
    * them runs there, without a job. None for any other frame.
    */
  private[lake] def localRows(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    if (!isLocalPlan(df)) None
    else df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(lr.data)
      case _ => None
    }

  /** Replay the snapshot log into the live file set: appends add files,
    * copy-on-write overwrites remove their `removedPaths` and add their
    * rewritten files, a rewrite (compaction) replaces everything;
    * merge-on-read "delete" snapshots carry no data files.
    * O(snapshots × files) driver-side metadata walk — no data IO.
    *
    * `prune` (partition-field name → allowed values) and
    * `statsFilters` (min/max ranges against `schema`, the same
    * arguments `matchingFiles` applies per file) additionally skip
    * LOADING any out-of-line manifest whose partition/stats summary
    * proves every file in it would be pruned — at 100 TB the planning
    * cost of a one-partition or one-key query is the manifests that
    * OVERLAP the predicate, not the table's history. Sound because
    * summary-pruned files are exactly files `matchingFiles` would
    * drop: removal replay doesn't need them (a removed pruned file is
    * equally absent either way) and seq stamping only matters for
    * files actually read.
    */
  def liveFiles(snapshots: Seq[SnapshotMeta],
      prune: Map[String, Set[String]] = Map.empty,
      schema: StructType = null,
      statsFilters: Seq[RangeFilter] = Seq.empty): Seq[DataFileMeta] = {
    // start at the last rewrite: everything before it is discarded by
    // the reset anyway, and walking it would MATERIALIZE pre-rewrite
    // manifests for nothing (the whole point of rewrite_manifests is
    // that forward reads stop touching them)
    replaySuffix(snapshots)._1
      .foldLeft(Vector.empty[DataFileMeta]) { (acc, s) =>
      // stamp each file's data sequence number (equality-delete
      // applicability: batch seq > file seq) unless it carries an
      // explicit one (expire-squash carried files keep their original)
      def stamp(fs: Seq[DataFileMeta]) = fs.toVector.map(f =>
        if (f.seq >= 0) f else f.copy(seq = s.id))
      def own = {
        val parts = manifestParts(s.files)
        if (parts.nonEmpty && (prune.nonEmpty || statsFilters.nonEmpty))
          // per-PART summary pruning: only overlapping parts load
          stamp(parts.filterNot(_.prunedOut(prune, schema, statsFilters))
            .flatten)
        else stamp(s.files)
      }
      s.operation match {
        case op if isReset(op) => own
        case op if removesByPath(op) =>
          val removed = s.removedPaths.toSet
          acc.filterNot(f => removed(f.path)) ++ own
        case _ => acc ++ own
      }
    }
  }

  /** Replay the snapshot log into the live equality-delete batches:
    * "delete"/"upsert" snapshots accumulate their batches; a rewrite
    * (compaction read applies every live batch, so its output
    * supersedes them) resets to the snapshot's own carried batches
    * (empty for compaction; the expire-squash carries the still-live
    * set explicitly).
    */
  def liveEqDeletes(snapshots: Seq[SnapshotMeta]): Seq[EqDeleteMeta] =
    snapshots.foldLeft(Vector.empty[EqDeleteMeta]) { (acc, s) =>
      s.operation match {
        case op if isReset(op) => s.eqDeletes.toVector
        case _ => acc ++ s.eqDeletes
      }
    }

  /** Replay the snapshot log into the live merge-on-read delete state:
    * data-file path (normalized) → its delete-file set + exact deleted
    * row count. "delete" snapshots accumulate; an overwrite drops the
    * entries of the files it replaces (the rewrite already materialized
    * the surviving rows); a rewrite resets to its own carried state
    * (compaction clears deletes, an expire-squash preserves them).
    */
  def liveDeletes(snapshots: Seq[SnapshotMeta]): Map[String, DeleteSet] =
    snapshots.foldLeft(Map.empty[String, DeleteSet]) { (acc, s) =>
      // a snapshot's vectors: each REPLACES the file's whole delete
      // state (v3 semantics — the writer merged all earlier positions
      // into the full blob, so cardinality is the live deleted count)
      def vectors: Map[String, DeleteSet] = s.dvs.map(d =>
        normalizePath(d.dataPath) ->
          DeleteSet(Seq.empty, d.cardinality, Some(d))).toMap
      def own: Map[String, DeleteSet] = s.deleteCounts.collect {
        case (p, n) if !vectors.contains(normalizePath(p)) =>
          normalizePath(p) -> DeleteSet(s.deletePaths, n)
      } ++ vectors
      s.operation match {
        case op if isReset(op) => own
        case op if removesByPath(op) =>
          val removed = s.removedPaths.map(normalizePath).toSet
          acc.filterNot { case (p, _) => removed(p) }
        case "delete" =>
          // parquet-positional entries ACCUMULATE; vector entries
          // REPLACE (and a vector supersedes any accumulated parquet
          // state for its file — `own` already excludes those keys)
          (own -- vectors.keySet).foldLeft(acc) { case (m, (p, ds)) =>
            m.updatedWith(p) {
              case Some(prev) => Some(DeleteSet(
                (prev.paths ++ ds.paths).distinct, prev.rows + ds.rows))
              case None => Some(ds)
            }
          } ++ vectors
        case _ => acc
      }
    }

  /** A branch overlay's files and equality batches re-sequenced above
    * the fork `base`, one step per branch commit in commit order — the
    * same relative stamping `fastForward` applies when publishing, so
    * branch views predict the published state exactly. Explicit file
    * sequences (never set by branch writes today) are preserved
    * defensively.
    */
  def resequenceOverlay(base: Long, branchSnaps: Seq[SnapshotMeta])
      : (Seq[DataFileMeta], Seq[EqDeleteMeta]) = {
    val reseq = branchSnaps.map(_.id).sorted.zipWithIndex
      .map { case (id, i) => id -> (base + i + 1) }.toMap
    // an explicit seq NAMING a staged snapshot (a branch CoW output
    // group deferring staged-origin lineage) re-sequences with it;
    // explicit MAIN seqs pass through verbatim (ids are globally
    // unique across main+staged, so the key spaces cannot collide)
    (branchSnaps.flatMap(s => s.files.map(f =>
      if (f.seq < 0) f.copy(seq = reseq(s.id))
      else reseq.get(f.seq).map(ps => f.copy(seq = ps)).getOrElse(f))),
      branchSnaps.flatMap(s => s.eqDeletes.map(_.copy(seq = reseq(s.id)))))
  }

  /** Test-only fault-injection seam: fired at named crash-window
    * points so recovery tests can kill the JVM mid-protocol (e.g.
    * between data-file write and metadata commit). A no-op in
    * production — nothing in the engine ever assigns it.
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()
  @inline private[lake] def faultPoint(name: String): Unit = faultHook(name)

  /** Manifest handles backing a snapshot's file list — one for a
    * single manifest, the parts for a clustered set, empty for inline
    * (pre-manifest) lists. EVERY site that enumerates manifest-backed
    * storage goes through here so a new representation cannot be
    * silently missed — the orphan sweep in particular must never
    * under-count live manifests (an under-count DELETES live
    * metadata).
    */
  def manifestParts(files: Seq[DataFileMeta]): Seq[ManifestFiles] =
    files match {
      case mf: ManifestFiles => Seq(mf)
      case ms: ManifestSet => ms.parts
      case _ => Seq.empty
    }

  /** Operations that RESET the replay (discard everything before
    * them): compaction/metadata rewrites ("rewrite" — byte moves, no
    * data change) and full-content overwrites ("replace" — data
    * change; branch fast-forward distinguishes the two). Every replay
    * fold and the suffix computation go through here.
    */
  def isReset(op: String): Boolean = op == "rewrite" || op == "replace"

  /** Operations that remove their `removedPaths` from the live set and
    * add their own files during replay: copy-on-write row-level ops
    * ("overwrite") and scoped compaction ("rewrite-data"). The replay
    * folds and the suffix computation go through here.
    */
  def removesByPath(op: String): Boolean =
    op == "overwrite" || op == "rewrite-data"

  /** Operations that move BYTES, not data — full compaction/manifest
    * rewrites ("rewrite") and scoped compaction ("rewrite-data"). CDC,
    * changelog and streaming readers skip them without consuming an
    * ordinal, and branch fast-forward does not count them as
    * divergence; an "overwrite" (a row-level CoW) is neither.
    */
  def isByteMove(op: String): Boolean =
    op == "rewrite" || op == "rewrite-data"

  /** Whether a map type occurs anywhere in `dt` — map columns cannot
    * participate in set operations directly; the CoW changelog diff
    * routes them through [[mapNormExpr]] (sorted-entries form) first.
    */
  def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => hasMapType(f.dataType))
      case org.apache.spark.sql.types.ArrayType(e, _) => hasMapType(e)
      case _ => false
    }

  /** `dt` with every map replaced by key-sorted
    * `array<struct<key,value>>` — a canonical, ORDERABLE encoding (two
    * equal maps normalize to identical arrays regardless of entry
    * order, and no map type survives, so Spark's set operations
    * accept it). Inverse: [[mapDenormExpr]].
    */
  private[lake] def mapNormType(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.MapType(k, v, vn) =>
      org.apache.spark.sql.types.ArrayType(StructType(Seq(
        StructField("key", mapNormType(k), nullable = false),
        StructField("value", mapNormType(v), nullable = vn))),
        containsNull = false)
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = mapNormType(f.dataType))))
    case org.apache.spark.sql.types.ArrayType(e, n) =>
      org.apache.spark.sql.types.ArrayType(mapNormType(e), n)
    case other => other
  }

  /** `c` (of type `dt`) rewritten to the [[mapNormType]] encoding —
    * entries sorted by key (unique within one map, so the ordering is
    * total), recursively through structs, arrays, and map values.
    */
  private[lake] def mapNormExpr(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(mapNormExpr(e.getField("key"), k).as("key"),
          mapNormExpr(e.getField("value"), v).as("value"))))
    case s: StructType if hasMapType(s) =>
      when(c.isNull,
        lit(null).cast(mapNormType(Reconcile.clean(s))))
        .otherwise(struct(s.fields.toSeq.map(f =>
          mapNormExpr(c.getField(f.name), f.dataType).as(f.name)): _*))
    case org.apache.spark.sql.types.ArrayType(e, _) if hasMapType(e) =>
      transform(c, x => mapNormExpr(x, e))
    case _ => c
  }

  /** Inverse of [[mapNormExpr]]: rebuild the original map shape from
    * the sorted-entries encoding (`dt` is the ORIGINAL type).
    */
  private[lake] def mapDenormExpr(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      map_from_entries(transform(c, e =>
        struct(mapDenormExpr(e.getField("key"), k).as("key"),
          mapDenormExpr(e.getField("value"), v).as("value"))))
    case s: StructType if hasMapType(s) =>
      when(c.isNull, lit(null).cast(Reconcile.clean(s)))
        .otherwise(struct(s.fields.toSeq.map(f =>
          mapDenormExpr(c.getField(f.name), f.dataType).as(f.name)): _*))
    case org.apache.spark.sql.types.ArrayType(e, _) if hasMapType(e) =>
      transform(c, x => mapDenormExpr(x, e))
    case _ => c
  }

  /** Suffix of the snapshot log since the last rewrite, plus the set
    * of paths removed by overwrites within it — the distributable form
    * of `liveFiles`' replay: only suffix snapshots can contribute live
    * files (a rewrite discards everything before it), and dropping the
    * removed set is exact because data-file paths are write-unique (a
    * removed path never reappears under a later snapshot). Shared by
    * the `.files` and `.partitions` relations so the two can never
    * disagree about liveness.
    */
  def replaySuffix(snapshots: Seq[SnapshotMeta])
      : (Seq[SnapshotMeta], Set[String]) = {
    val idx = snapshots.lastIndexWhere(s => isReset(s.operation))
    val suffix = if (idx < 0) snapshots else snapshots.drop(idx)
    (suffix, suffix.filter(s => removesByPath(s.operation))
      .flatMap(_.removedPaths).toSet)
  }

  /** Resolve a dotted path through STRUCT nesting only (`a.b.c` where
    * every non-leaf segment is a struct field) to its leaf field.
    * Returns None when a segment is missing or the chain crosses an
    * array/map — an element/value field occurs 0..n times per row, so
    * it cannot serve as an equality-delete key.
    */
  def resolveStructPath(schema: StructType, path: String)
      : Option[StructField] = {
    path.split('.').toSeq.foldLeft(Option.empty[StructField] -> (schema: DataType)) {
      case ((_, st: StructType), seg) =>
        st.fields.find(_.name == seg) match {
          case Some(f) => (Some(f), f.dataType)
          case None => (None, NullType)
        }
      case _ => (None, NullType)
    }._1
  }

  /** Dotted struct path AND leaf field carrying `id` in `schema`,
    * traversing struct nesting only (the inverse of
    * `resolveStructPath` — equality-delete keys are struct-nested
    * scalars by construction). One walk serves both callers: the
    * anti-join needs the path, the DSv2 reader the leaf field (going
    * path → field via a re-parse would break on field names that
    * contain a literal dot).
    */
  def structPathOfId(schema: StructType, id: Int)
      : Option[(String, StructField)] = {
    def walk(st: StructType, prefix: String): Option[(String, StructField)] =
      st.fields.toSeq.flatMap { f =>
        val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        if (FieldIds.hasId(f) && FieldIds.idOf(f) == id) Some((p, f))
        else f.dataType match {
          case s: StructType => walk(s, p)
          case _ => None
        }
      }.headOption
    walk(schema, "")
  }

  /** Partition-value + min/max-stats pruning of a file list.
    *
    * `schemaById` (file's write schema by schema id, when the caller
    * has table metadata at hand) enables the schema-absence prune: a
    * file written BEFORE a column was added reads as all-NULL for it,
    * so `IS NOT NULL` and every value predicate on that column skip
    * the file outright — on an evolved table that can be most of the
    * history. Returning None keeps the file (conservative default).
    */
  def matchingFiles(files: Seq[DataFileMeta], schema: StructType,
      prune: Map[String, Set[String]],
      statsFilters: Seq[RangeFilter],
      schemaById: Int => Option[StructType] = _ => None): Seq[DataFileMeta] = {
    // per-filter current-schema field id (top-level only — pushed
    // filters name top-level columns), resolved once per call
    val valueFilters = statsFilters.filter(f => f.notNull || f.hasBounds)
    val filterIds: Seq[Int] =
      if (valueFilters.isEmpty) Seq.empty
      else valueFilters.flatMap(f =>
        schema.fields.find(_.name == f.column)
          .filter(graft.schema.FieldIds.hasId)
          .map(graft.schema.FieldIds.idOf))
    // schemaId -> does the write schema contain every filtered field id
    val absenceCache = scala.collection.mutable.Map.empty[Int, Boolean]
    def writeSchemaHasAll(f: DataFileMeta): Boolean =
      filterIds.isEmpty || absenceCache.getOrElseUpdate(f.schemaId,
        schemaById(f.schemaId) match {
          case Some(ws) =>
            val present = ws.fields.iterator
              .filter(graft.schema.FieldIds.hasId)
              .map(graft.schema.FieldIds.idOf).toSet
            filterIds.forall(present)
          case None => true
        })
    // bloom probe hashing hoisted OUT of the per-file loop: each
    // filter's value set hashes once per plan, not once per
    // (file x value) — a 100-value IN over 100k candidate files is
    // 100 hash evals, not 10M
    val probes = bloomProbes(schema, statsFilters)
    files.filter { f =>
      prune.forall { case (name, allowed) =>
        f.partitionValues.get(name).forall(allowed.contains)
      } && FileStats.mightMatch(f.stats, schema, statsFilters) &&
        writeSchemaHasAll(f) && bloomMightMatchProbes(f, probes)
    }
  }

  /** Per-filter bloom probes resolved ONCE per plan: the field id and
    * the Spark-compatible hashes of the probe-able value set — an
    * explicit IN-list (`eqSet`) or a single-point range (lo == hi).
    * Integral renderings must match `cast(col AS STRING)`; a
    * fractional equality value never round-trips, so it skips the
    * probe (min/max handles it). Filters with no probe-able shape
    * contribute nothing (conservative).
    */
  private def bloomProbes(schema: StructType,
      filters: Seq[RangeFilter]): Seq[(Int, Seq[Long])] =
    filters.flatMap { flt =>
      val values: Seq[String] =
        if (flt.eqSet.nonEmpty) flt.eqSet
        else (flt.loNum, flt.hiNum) match {
          case (Some(a), Some(b)) if a == b =>
            scala.util.Try(a.toBigIntExact).toOption.flatten
              .map(_.toString).toSeq
          case _ => (flt.loStr, flt.hiStr) match {
            case (Some(a), Some(b)) if a == b => Seq(a)
            case _ => Seq.empty
          }
        }
      if (values.isEmpty) None
      else schema.fields.find(_.name == flt.column)
        .filter(graft.schema.FieldIds.hasId)
        .map(f => graft.schema.FieldIds.idOf(f) ->
          values.map(BloomFilters.hashOf))
    }

  private def bloomMightMatchProbes(f: DataFileMeta,
      probes: Seq[(Int, Seq[Long])]): Boolean =
    f.blooms.isEmpty || probes.forall { case (fieldId, hashes) =>
      f.blooms.find(_.fieldId == fieldId) match {
        case None => true
        case Some(ref) =>
          // IN semantics: the file survives if ANY listed value might
          // be present; an unreadable blob keeps the file
          try {
            val words = BloomFilters.cached(ref.path, ref.offset,
              ref.length)
            hashes.exists(h =>
              BloomFilters.mightContain(words, h, ref.k))
          } catch { case _: Exception => true }
      }
    }

  /** Bloom-filter probe for point-lookup equality filters — the
    * single-file convenience form ([[bloomProbes]] +
    * [[bloomMightMatchProbes]]); scan planning uses the split form so
    * hashing happens once per plan.
    */
  def bloomMightMatch(f: DataFileMeta, schema: StructType,
      filters: Seq[RangeFilter]): Boolean =
    bloomMightMatchProbes(f, bloomProbes(schema, filters))

  /** Spark's file scans report URIs (`file:/…`, %XX-escaped);
    * metadata stores plain filesystem paths — normalize for matching.
    */
  def normalizePath(p: String): String =
    if (p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p

  /** The materialized lineage column names rewrites store in parquet. */
  val matLineageCols: Seq[String] =
    Seq("_graft_row_id", "_graft_last_updated")

  def tableLocation(warehouse: String, db: String, table: String): Path =
    Paths.get(warehouse, db, table)

  def exists(warehouse: String, db: String, table: String): Boolean =
    Files.exists(tableLocation(warehouse, db, table)
      .resolve("metadata").resolve("version-hint.text"))

  def buildSpecFields(partitions: Seq[PartitionDef],
      schema: StructType): Seq[SpecField] = {
    val flat = FieldIds.flatten(schema)
    partitions.zipWithIndex.map { case (p, i) =>
      val srcId = flat.collectFirst {
        case (path, f) if path == p.column => FieldIds.idOf(f)
      }.getOrElse(throw new IllegalArgumentException(
        s"partition source column '${p.column}' not found"))
      // partition field IDs start at 1000 (iceberg_helper.py:398-425)
      SpecField(srcId, p.transform, p.name, 1000 + i)
    }
  }

  /** CREATE TABLE (A11): fresh schema version 0 with assigned field
    * IDs, spec version 0, empty snapshot list.
    */
  def create(warehouse: String, tableDef: TableDef): (LakeTable, Seq[String]) = {
    val loc = tableLocation(warehouse, tableDef.databaseName, tableDef.tableName)
    require(!Files.exists(loc.resolve("metadata").resolve("version-hint.text")),
      s"table already exists at $loc")
    requireUnreserved(tableDef.columns.map(_.name))
    val (schema, nextId) = FieldIds.assign(
      TypeMapper.toStructType(tableDef.columns), startId = 1)
    val spec = PartitionSpecMeta(0, buildSpecFields(tableDef.partitions, schema))
    val md = TableMetadata(
      formatVersion = 1,
      database = tableDef.databaseName,
      table = tableDef.tableName,
      schemas = Seq(SchemaVersion(0, schema)),
      currentSchemaId = 0,
      specs = Seq(spec),
      currentSpecId = 0,
      snapshots = Seq.empty,
      lastFieldId = nextId - 1,
      properties = tableDef.properties,
      identifierFieldIds = resolveIdentifierFields(
        tableDef.properties.get("identifier-fields"), schema))
    val t = new LakeTable(loc, md)
    val metaFile = t.commit(md)
    (t, Seq(
      s"Created table ${tableDef.databaseName}.${tableDef.tableName}",
      s"Latest Meta file: $metaFile"))
  }

  /** Resolve the `identifier-fields` table property (comma-separated
    * TOP-LEVEL column names — Iceberg v2 requires identifier fields be
    * required primitive fields, not nested under optional structs) to
    * field ids against `schema`. None/empty → no declared identity.
    *
    * Validated at RESOLVE time, mirroring the equality-delete key check
    * (`writeEqDeleteBatch`): each field must be a supported scalar type
    * (struct/map/array cannot identify a row) and non-nullable (Iceberg
    * v2 requires identifier fields be `required` — a nullable identifier
    * would let null key tuples match each other and produce null-keyed
    * last-write-wins semantics the spec forbids). Failing here gives the
    * user a named error at CREATE/ALTER instead of a confusing
    * equality-delete-key failure on the first keyed write.
    */
  private[lake] def resolveIdentifierFields(prop: Option[String],
      schema: StructType): Seq[Int] =
    prop.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      .map { n =>
        val f = schema.fields.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"identifier-fields: no top-level column '$n' " +
              s"(have ${schema.fieldNames.mkString(", ")})"))
        require(Seq(IntegerType, LongType, StringType, BooleanType,
          FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
          .contains(f.dataType) || f.dataType.isInstanceOf[DecimalType],
          s"identifier-fields: '$n' must be a scalar of a supported type " +
            s"(got ${f.dataType.simpleString}) — struct/map/array fields " +
            "cannot identify a row (Iceberg v2 required-primitive rule)")
        require(!f.nullable,
          s"identifier-fields: '$n' must be a required (non-nullable) " +
            "column — Iceberg v2 forbids nullable identifier fields " +
            "(null keys would match each other on upsert)")
        FieldIds.idOf(f)
      }

  /** Iceberg's `snapshot` procedure: a ZERO-COPY clone — the new table
    * gets a full copy of the source's metadata (schemas, specs, the
    * whole snapshot log, refs, staged commits) and references the same
    * data/delete/key files by absolute path; only the O(manifests)
    * manifest documents are copied (names resolve relative to each
    * table's metadata dir). The clone then evolves independently: its
    * writes land under its own directory and never touch shared files.
    *
    * `gc.enabled=false` is stamped on the clone and `removeOrphanFiles`
    * refuses to run on it — a sweep from the clone's reference set
    * could delete nothing safely. The INVERSE hazard is the user's
    * contract, as in Iceberg: expiring + sweeping the SOURCE can delete
    * files the clone still references.
    */
  def snapshotTable(warehouse: String, srcDb: String, srcTable: String,
      toDb: String, toTable: String): (LakeTable, Seq[String]) = {
    val src = load(warehouse, srcDb, srcTable)
    val loc = tableLocation(warehouse, toDb, toTable)
    require(!Files.exists(loc.resolve("metadata").resolve("version-hint.text")),
      s"table already exists at $loc")
    val srcMeta = src.location.resolve("metadata")
    val dstMeta = loc.resolve("metadata")
    Files.createDirectories(dstMeta)
    // REPLACE_EXISTING: a clone that crashed between copying manifests
    // and committing the version hint must be retryable, not wedged on
    // FileAlreadyExists (manifests are immutable — re-copying is safe)
    (src.metadata.snapshots ++ src.metadata.staged)
      .flatMap(s => manifestParts(s.files).map(_.manifestName)).distinct
      .foreach(n => Files.copy(srcMeta.resolve(n), dstMeta.resolve(n),
        StandardCopyOption.REPLACE_EXISTING))
    val cloned = src.metadata.copy(database = toDb, table = toTable,
      properties = src.metadata.properties + ("gc.enabled" -> "false"))
    val t = new LakeTable(loc, cloned)
    val metaFile = t.commit(cloned)
    (t, Seq(
      s"Created snapshot table $toDb.$toTable from $srcDb.$srcTable " +
        s"(${cloned.snapshots.size} snapshots, zero data copied)",
      s"Latest Meta file: $metaFile"))
  }

  def load(warehouse: String, db: String, table: String): LakeTable = {
    // an open SQL transaction on this thread captures every load of
    // its warehouse's tables: statements inside BEGIN…COMMIT read
    // their own staged writes and stage onto the same buffered
    // handles (SqlTxn scaladoc)
    SqlTxn.active match {
      case Some(open) => return open.handleFor(warehouse, db, table)
      case None => ()
    }
    loadRaw(warehouse, db, table)
  }

  /** [[load]] without the SQL-transaction routing — the transaction
    * machinery itself (and anything that must see COMMITTED state
    * regardless of an open transaction) loads through this.
    */
  /** Parsed metadata documents per version FILE identity (path + size
    * + mtime-to-the-nanosecond), bounded LRU (r18 — the r17 verdict's
    * streaming ask, generalized: EVERY statement loads its table, and
    * the hint-pointed document is parsed anew per load, ~1-3 ms warm
    * and growing with snapshot count). Safe to share: TableMetadata is
    * an immutable document (handles replace, never mutate, their `md`)
    * and a version file's content is fixed once the hint points at it
    * (CREATE_NEW claims; torn claims are deleted only while unflipped).
    * The file-identity key — not (table, version) alone — makes a
    * warehouse recreated IN PLACE (tests, reruns of fixture builds)
    * re-parse instead of serving metadata that references deleted
    * files. The committedClaim visibility check stays per-load.
    */
  private val mdParseCache =
    new java.util.LinkedHashMap[(String, Long, Long, Int),
        TableMetadata](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long, Int),
            TableMetadata]): Boolean = size > 512
    }

  private[lake] def loadRaw(warehouse: String, db: String,
      table: String): LakeTable = {
    val loc = tableLocation(warehouse, db, table)
    val hint = loc.resolve("metadata").resolve("version-hint.text")
    require(Files.exists(hint), s"no table at $loc")
    val v = Files.readString(hint).trim
    // cross-table atomic visibility: a participant whose transaction's
    // final record says COMMIT is committed the instant that record
    // lands — even if the coordinator hasn't flipped this table's
    // pointer yet. A reader that ignored the committed claim here
    // could see table A new (flipped) and table B old (flip pending):
    // exactly the half-transaction the protocol forbids. One stat per
    // load when no claim exists; pending/aborted claims stay invisible.
    val rolled = LakeTxn.committedClaim(loc, v.toInt)
    rolled.foreach { case (md2, v2) => return new LakeTable(loc, md2, v2) }
    val vf = loc.resolve("metadata").resolve(s"v$v.json")
    val md = try {
      val attrs = Files.readAttributes(vf,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val mt = attrs.lastModifiedTime.toInstant
      val key = (vf.toString, attrs.size, mt.getEpochSecond, mt.getNano)
      mdParseCache.synchronized(Option(mdParseCache.get(key))) match {
        case Some(cached) => cached
        case None =>
          val parsed = MetadataIO.fromJson(
            Json.parse(Files.readString(vf)), loc.resolve("metadata"))
          mdParseCache.synchronized(mdParseCache.put(key, parsed))
          parsed
      }
    } catch {
      case _: java.nio.file.NoSuchFileException =>
        // raced a concurrent cleanup between hint read and stat —
        // surface the original contract's error by re-reading plainly
        MetadataIO.fromJson(Json.parse(Files.readString(vf)),
          loc.resolve("metadata"))
    }
    // pin the handle's version to the hint value the DOCUMENT was
    // resolved from (see the loadedVersion scaladoc: re-reading the
    // hint in the constructor races a concurrent commit)
    new LakeTable(loc, md, v.toInt)
  }

  /** Whole-body optimistic retry around [[LakeTable!.transaction]]:
    * on a concurrency abort, reload a FRESH handle and re-run the
    * entire body against the new state. This is the sound complement
    * of the in-transaction design (op-level retry is disabled there
    * because a single op rebuilt on another writer's commit would
    * smuggle foreign state into the transaction's one publish) — the
    * body is a closure over a handle, so re-running it from a fresh
    * load recomputes EVERY op against the winner's state, exactly the
    * "reload and retry the whole body" the abort message demands.
    * Jittered backoff between attempts keeps a herd of writers from
    * re-colliding in lockstep. Exhausted attempts rethrow the last
    * conflict; non-conflict failures propagate immediately (they
    * would fail identically on any state).
    */
  def transactionWithRetry[A](warehouse: String, db: String,
      table: String, attempts: Int = 5)(body: LakeTable => A): A = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    var n = 0
    while (true) {
      n += 1
      try return load(warehouse, db, table).transaction(body)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (n >= attempts) throw e
          Thread.sleep(
            scala.util.Random.nextInt(40 * n).toLong + 5)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
