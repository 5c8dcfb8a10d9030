package graft.sources

import org.apache.spark.sql.SparkSession

import graft.lake.LakeTable

/** The materialized-view lifecycle, shared by BOTH surfaces: the
  * `CALL system.create_mat_view / refresh_mat_view` procedures and the
  * `CREATE / DROP / REFRESH MATERIALIZED VIEW` SQL statements route
  * here, so the two spellings can never drift.
  *
  * An MV is a hidden backing lake table (`__mat_<name>`) fronted by a
  * registered view of the same name; the defining query and refresh
  * bookkeeping (incremental shape, snapshot watermark) live in the
  * view document's properties. Reads are table-fast and STALE until
  * refreshed; refresh is a full recompute, or an O(delta) merge for
  * self-maintainable aggregate shapes ([[MatViews]]).
  */
object MatViewDdl {

  sealed trait RefreshResult
  /** Incremental: the (from, to] snapshot range merged (from == to →
    * the source hadn't moved; no-op). */
  case class IncrementalRefresh(fromSnapshot: Long, toSnapshot: Long)
      extends RefreshResult
  /** Full recompute: the replace snapshot and its row count. */
  case class FullRefresh(snapshotId: Long, rows: Long)
      extends RefreshResult

  /** True when `db.name` is a registered view AND marks itself as a
    * materialized view (DROP MATERIALIZED VIEW refuses plain views).
    */
  def isMatView(warehouse: String, db: String, name: String): Boolean =
    LakeViews.read(LakeViews.path(warehouse, db, name))
      .exists(_.properties.get("graft.mat-view").contains("true"))

  /** Human-readable summary of the recorded incremental shape, for
    * DESCRIBE EXTENDED. */
  def describeShape(props: Map[String, String]): String =
    MatViews.decode(props) match {
      case None => "none (full refresh only)"
      case Some(sh) =>
        val kinds = sh.specs.collect {
          case _: MatViews.GroupCol => None
          case sp => Some(sp.getClass.getSimpleName
            .stripSuffix("$").stripSuffix("Col").toLowerCase)
        }.flatten.distinct
        (if (sh.dims.isEmpty) "" else
          sh.dims.map(d => s"${d.db}.${d.table}")
            .mkString("join(", ", ", ") ")) +
          s"aggregates[${kinds.mkString(", ")}]" +
          (if (sh.retractable) " retractable" else " append-only")
    }

  /** Create: analyze the defining query, seed the backing table,
    * register the fronting view; detects and records the
    * incrementally-maintainable aggregate shape. Returns (backing
    * table name, seeded row count).
    */
  /** Remove a backing table's directory tree (there is no fronting
    * view to route a catalog DROP through). */
  private def dropBacking(warehouse: String, db: String,
      matTable: String): Unit = {
    val loc = LakeTable.tableLocation(warehouse, db, matTable)
    if (java.nio.file.Files.exists(loc))
      scala.util.Using.resource(java.nio.file.Files.walk(loc)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
  }

  def create(spark: SparkSession, warehouse: String,
      catalogName: String, db: String, name: String,
      query: String): (String, Long) = {
    // MV DDL writes non-transactional sidecars (view doc, refresh
    // log) — enlisting its table commits in an open SQL transaction
    // would tear doc from data; refuse by name
    require(graft.lake.SqlTxn.active.isEmpty,
      "CREATE MATERIALIZED VIEW does not participate in SQL " +
        "transactions — COMMIT or ROLLBACK first")
    val matTable = s"__mat_$name"
    require(LakeViews.read(
      LakeViews.path(warehouse, db, name)).isEmpty,
      s"view '$db.$name' already exists")
    require(!LakeTable.exists(warehouse, db, name),
      s"cannot create materialized view '$db.$name': a " +
        "table with that name already exists")
    // CREATE is not one atomic step (backing table, seed append, view
    // registration) — a crash between them leaves an orphan backing
    // table with no fronting view. Such an orphan blocks nothing: a
    // retried CREATE clears it and starts over. But ONLY a true
    // orphan: a renamed MV keeps its original backing-table name, so
    // the table is cleared only when no view document claims it.
    if (LakeTable.exists(warehouse, db, matTable)) {
      val claimed = {
        val d = LakeViews.dir(warehouse, db)
        java.nio.file.Files.exists(d) &&
          scala.util.Using.resource(java.nio.file.Files.list(d)) { st =>
            scala.jdk.CollectionConverters.IteratorHasAsScala(
              st.iterator).asScala
              .filter(_.getFileName.toString.endsWith(".json"))
              .exists(p => LakeViews.read(p).exists(
                _.properties.get("graft.mat-view.table")
                  .contains(matTable)))
          }
      }
      require(!claimed,
        s"cannot create materialized view '$db.$name': backing table " +
          s"'$db.$matTable' belongs to another (renamed) " +
          "materialized view")
      // only clear a table that is provably MV machinery: every
      // backing table is stamped `graft.mat-view.backing` at create
      // (shaped legacies also carry the watermark). A prefix-squatting
      // table written by some other path must fail the CREATE loudly,
      // never be silently destroyed.
      val orphanProps =
        LakeTable.load(warehouse, db, matTable).metadata.properties
      require(orphanProps.contains("graft.mat-view.backing") ||
          orphanProps.contains("graft.mat-view.watermark"),
        s"cannot create materialized view '$db.$name': table " +
          s"'$db.$matTable' exists but does not carry " +
          "materialized-view properties — it is not a crashed " +
          "CREATE's orphan; drop it explicitly if it is disposable")
      dropBacking(warehouse, db, matTable)
    }
    // analyze the defining query (view substitution applies
    // so an MV can be defined over other views)
    val analyzed = org.apache.spark.sql
      .GraftViewSubstitution.sql(spark, query)
    // self-maintainable aggregate shape? then the seed (and
    // every later refresh) computes from a WATERMARK-PINNED
    // source scan — a racing commit lands entirely in the
    // next delta, never half-counted. The rebuilt
    // aggregation must reproduce the declared schema
    // exactly, else the view stays full-refresh-only.
    // any failure while validating the detected shape (an expression
    // whose SQL doesn't round-trip through the parser, an exotic
    // type) falls back to a FULL-REFRESH-ONLY view instead of failing
    // the CREATE — unshaped is always sound
    val shaped: Option[(MatViews.AggShape, Long,
        org.apache.spark.sql.DataFrame, Map[String, String])] =
      try MatViews.detect(analyzed.queryExecution.analyzed,
          warehouse)
        .flatMap { sh =>
          val src = LakeTable.load(warehouse, sh.srcDb,
            sh.srcTable)
          val w = src.metadata.snapshots.map(_.id)
            .foldLeft(0L)(math.max)
          // pin the dims FIRST, then read them at those pins — a dim
          // commit racing the seed lands entirely in a later full
          // refresh, never half-joined
          val dimPins = MatViews.dimPinsAtHead(warehouse, sh)
          val rows = MatViews.sourceRows(
            MatViews.joinedRows(spark, warehouse, sh,
              src.read(spark,
                asOfSnapshot = if (w > 0) Some(w) else None),
              dimPins), sh)
          // seed the STORAGE layout (hidden avg parts / row counter);
          // its visible projection must reproduce the declared schema
          val storage = MatViews.storageAggregate(rows, sh)
          if (MatViews.visibleFrame(storage, sh).schema.fields.map(f =>
              (f.name, f.dataType)).toSeq ==
              analyzed.schema.fields.map(f =>
                (f.name, f.dataType)).toSeq)
            Some((sh, w, storage, dimPins))
          else None
        }
      catch { case scala.util.control.NonFatal(_) => None }
    val seed = shaped.map(_._3).getOrElse(analyzed)
    LakeTable.create(warehouse, graft.schema.TableDef(
      db, matTable,
      // the backing table stores the STORAGE layout (== the declared
      // schema for unshaped / hidden-column-free views)
      seed.schema.fields.toSeq.map(f =>
        graft.schema.TypeMapper.toColumnDef(
          f.name, f.dataType, f.nullable)),
      Seq.empty,
      // every backing table declares its owner — the CREATE orphan
      // cleanup refuses to clear a `__mat_` table without this stamp
      Map("graft.mat-view.backing" -> name) ++
      shaped.map { case (sh, w, _, dimPins) =>
        // incremental shapes: bloom the group keys so the
        // touched-group pruning in refreshIncremental can drop
        // backing files by exact probe, not just range; the
        // watermark (and each dim's snapshot pin) lives HERE so
        // refreshes can advance it in the same atomic flip as the
        // merged data
        val keys = MatViews.bloomableKeys(sh, analyzed.schema)
        val wTs = LakeTable.load(warehouse, sh.srcDb, sh.srcTable)
          .metadata.snapshots.find(_.id == w)
          .map(_.timestampMs).getOrElse(-1L)
        dimPins ++
        Map("graft.mat-view.watermark" -> w.toString,
          "graft.mat-view.watermark-ts" -> wTs.toString) ++
          // the zone the data is BUCKETED under lives with the data:
          // refreshes re-pin it in the same transaction that rewrites
          // the rows, so the two can never disagree after a crash
          (if (sh.tzSensitive)
            Map("graft.mat-view.tz" ->
              spark.sessionState.conf.sessionLocalTimeZone)
           else Map.empty[String, String]) ++
          (if (keys.isEmpty) Map.empty[String, String]
           else Map("write.bloom-columns" -> keys.mkString(",")))
      }.getOrElse(Map.empty)))
    // a failure past this point (seed append, view registration)
    // must not strand the just-created backing table
    val snap =
      try {
        val s = LakeTable.load(warehouse, db, matTable).append(seed)
        // the MV NAME is a plain view fronting the backing
        // table (projecting hidden storage columns away); the
        // defining query lives in properties for refresh
        LakeViews.create(LakeViews.path(warehouse, db, name),
          LakeViews.ViewDoc(name, 1, Seq(LakeViews.ViewVersion(
            1, System.currentTimeMillis(),
            shaped.map { case (sh, _, _, _) =>
              MatViews.viewSql(sh, catalogName, db, matTable)
            }.getOrElse(s"SELECT * FROM $catalogName.$db.$matTable"),
            analyzed.schema.json,
            analyzed.schema.fieldNames.toSeq,
            Seq.empty, Seq.empty, catalogName, Seq(db))),
            Map("graft.mat-view" -> "true",
              "graft.mat-view.sql" -> query,
              "graft.mat-view.table" -> matTable,
              "graft.mat-view.refreshed-ms" ->
                System.currentTimeMillis().toString) ++
              shaped.map { case (sh, w, _, _) =>
                MatViews.encode(sh,
                  spark.sessionState.conf.sessionLocalTimeZone) +
                  ("graft.mat-view.watermark" -> w.toString)
              }.getOrElse(Map.empty)))
        s
      } catch {
        case e: Throwable =>
          try dropBacking(warehouse, db, matTable)
          catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
    (matTable, snap.files.map(_.rows).sum)
  }

  /** Refresh: `mode` is '' / 'full' (recompute) or 'incremental'
    * (delta merge; refuses shapes without a recorded incremental
    * form). The WHOLE refresh — doc read, delta merge, upsert,
    * watermark stamp — runs under the view's refresh lock: a racing
    * second refresher gets a named conflict instead of double-counting
    * the delta, and a refresh that starts after a winner finishes
    * re-reads the doc inside the lock and sees the advanced watermark
    * (no-op).
    */
  def refresh(spark: SparkSession, warehouse: String, db: String,
      name: String, mode: String): RefreshResult = {
    require(mode.isEmpty || mode == "full" ||
        mode == "incremental",
      s"refresh mode must be ''|full|incremental, got '$mode'")
    require(graft.lake.SqlTxn.active.isEmpty,
      "REFRESH MATERIALIZED VIEW does not participate in SQL " +
        "transactions — COMMIT or ROLLBACK first")
    LakeViews.withRefreshLock(warehouse, db, name) {
      val doc = LakeViews.read(
        LakeViews.path(warehouse, db, name)).getOrElse(
        throw new IllegalArgumentException(
          s"no view '$db.$name'"))
      val defSql = doc.properties.getOrElse("graft.mat-view.sql",
        throw new IllegalArgumentException(
          s"view '$db.$name' is not a materialized view"))
      val matTable = doc.properties("graft.mat-view.table")
      val shape = MatViews.decode(doc.properties)
      // stamp re-reads the CURRENT doc: the refresh lock serializes
      // refreshers but not ALTER VIEW property edits, so writing back
      // the doc captured at refresh start would silently clobber a
      // concurrent SET/UNSET TBLPROPERTIES. Only refresh-owned keys
      // land on top of the freshly read properties.
      def stamp(extra: Map[String, String]): Unit = {
        val fresh = LakeViews.read(
          LakeViews.path(warehouse, db, name)).getOrElse(doc)
        LakeViews.write(LakeViews.path(warehouse, db, name),
          fresh.copy(properties = fresh.properties ++ extra +
            ("graft.mat-view.refreshed-ms" ->
              System.currentTimeMillis().toString)))
      }
      // every attempt lands in the refresh history — the `.refreshes`
      // metadata relation — including REFUSALS (outcome=refused with
      // the reason), which is how an operator sees why a view keeps
      // falling back to full refreshes
      val logPath = LakeViews.refreshLogPath(warehouse, db, name)
      val t0 = System.currentTimeMillis()
      // a refusal happens BEFORE any data moves; once the backing
      // transaction committed, a later failure (the advisory doc
      // stamp, the history append itself) must not masquerade as a
      // refusal — the data DID merge. The refresh bodies flip this
      // marker right after their commit so the catch can tell the two
      // apart: outcome=refused (nothing happened, reason names why)
      // vs outcome=error (data committed, post-commit step failed).
      var committed: Option[(String, Long, (Long, Long))] = None
      def logged[T <: RefreshResult](body: => (T, String, Long,
          (Long, Long))): T =
        try {
          val (res, strategy, groups, fromTo) = body
          LakeViews.appendRefresh(logPath, LakeViews.RefreshEvent(
            t0, if (mode.isEmpty) "full" else mode, strategy,
            fromTo._1, fromTo._2, groups,
            System.currentTimeMillis() - t0, "ok", ""))
          res
        } catch {
          case e: Throwable =>
            val (outcome, strat, grp, fromTo) = committed match {
              case Some((s, g, ft)) => ("error", s, g, ft)
              case None => ("refused", "", -1L, (-1L, -1L))
            }
            try LakeViews.appendRefresh(logPath, LakeViews.RefreshEvent(
              t0, if (mode.isEmpty) "full" else mode, strat,
              fromTo._1, fromTo._2, grp,
              System.currentTimeMillis() - t0,
              outcome, Option(e.getMessage).getOrElse(
                e.getClass.getName)))
            catch { case s: Throwable => e.addSuppressed(s) }
            throw e
        }
      if (mode == "incremental") logged {
        val sh = shape.getOrElse(throw new
          IllegalArgumentException(
          s"view '$db.$name' has no recorded incremental " +
            "shape (joins with ambiguous column names, DISTINCT, " +
            "FILTER clauses on aggregates, " +
            "grouping columns missing from the output, " +
            "non-persistable expressions — current-time, UDFs, " +
            "subqueries — and float/double SUMs are not " +
            "self-maintainable) — run a full refresh"))
        val w = doc.properties("graft.mat-view.watermark").toLong
        MatViews.refreshIncremental(spark, warehouse, sh, w,
          db, matTable) match {
          case Some((head, strategy, groups)) =>
            committed = Some((strategy, groups, (w, head)))
            stamp(Map("graft.mat-view.watermark" ->
              head.toString))
            // post-refresh maintenance, still under the refresh lock
            // and still inside the logged body: the refresh committed,
            // so a maintenance failure lands in the history as
            // outcome=error (the committed marker is set), never as a
            // refusal of data work that DID happen. The bound keeps a
            // refresh loop from growing the backing table's
            // merge-on-read state without limit (maybeCompactBacking).
            MatViews.maybeCompactBacking(spark, warehouse, db, matTable)
            (IncrementalRefresh(w, head), strategy, groups, (w, head))
          case None =>
            (IncrementalRefresh(w, w), "no-op", 0L, (w, w))
        }
      } else logged {
        // full recompute, one "replace" snapshot on the
        // backing table. An incremental-shaped view
        // recomputes from a watermark-pinned scan so its
        // watermark advances consistently; any-SQL views
        // re-run their defining query
        val (frame, wm, dimPins) = shape match {
          case Some(sh) =>
            val src = LakeTable.load(warehouse, sh.srcDb,
              sh.srcTable)
            val head = src.metadata.snapshots.map(_.id)
              .foldLeft(0L)(math.max)
            val headTs = src.metadata.snapshots.find(_.id == head)
              .map(_.timestampMs).getOrElse(-1L)
            // dims re-pin at THEIR heads (recorded in the same
            // transaction as the data computed against them)
            val pins = MatViews.dimPinsAtHead(warehouse, sh)
            (MatViews.storageAggregate(
              MatViews.sourceRows(
                MatViews.joinedRows(spark, warehouse, sh,
                  src.read(spark,
                    asOfSnapshot = if (head > 0) Some(head)
                      else None), pins), sh), sh),
              Some((head, headTs)), pins)
          case None =>
            (org.apache.spark.sql.GraftViewSubstitution
              .sql(spark, defSql), None, Map.empty[String, String])
        }
        // recompute + watermark advance + tz re-pin publish in ONE
        // flip (crash mid-refresh leaves the old content with the old
        // watermark AND the old zone — data and its bucketing zone can
        // never disagree). The doc copies below are advisory.
        val tzPin = shape.filter(_.tzSensitive)
          .map(_ => "graft.mat-view.tz" ->
            spark.sessionState.conf.sessionLocalTimeZone).toMap
        val snap = LakeTable.load(warehouse, db, matTable)
          .transaction { tx =>
            val s = tx.overwrite(frame)
            val props = wm.map { case (h, hTs) =>
              Map("graft.mat-view.watermark" -> h.toString,
                "graft.mat-view.watermark-ts" -> hTs.toString)
            }.getOrElse(Map.empty) ++ tzPin ++ dimPins
            if (props.nonEmpty) tx.updateProperties(props)
            s
          }
        committed = Some(("recompute-all", -1L,
          (doc.properties.get("graft.mat-view.watermark")
            .map(_.toLong).getOrElse(-1L),
            wm.map(_._1).getOrElse(-1L))))
        // conf-gated fault injection (like the incr-scan-audit
        // observable): proves post-commit failures log as
        // outcome=error, never as a refusal of work that happened
        if (spark.conf.get(
            "spark.graft.matview.post-commit-fault", "false") == "true")
          throw new IllegalStateException(
            "injected post-commit fault (test observable)")
        stamp(wm.map { case (h, hTs) =>
          Map("graft.mat-view.watermark" -> h.toString,
            "graft.mat-view.watermark-ts" -> hTs.toString)
        }.getOrElse(Map.empty) ++ tzPin)
        val rows = snap.files.map(_.rows).sum
        (FullRefresh(snap.id, rows), "recompute-all", rows,
          (doc.properties.get("graft.mat-view.watermark")
            .map(_.toLong).getOrElse(-1L),
            wm.map(_._1).getOrElse(-1L)))
      }
    }
  }
}
