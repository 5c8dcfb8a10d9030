package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time travel and change-data-capture surface of [[LakeTable]]:
  * snapshot-as-of resolution, `changesBetween`, and the changelog
  * family (CoW diffs, update pairing, net changes, replace diffs).
  * Pure extraction from the class body — no behavior change.
  */
private[lake] trait LakeTableChangelog { self: LakeTable =>

  /** Latest snapshot committed at or before `epochMs` (TIMESTAMP AS OF
    * resolution). Snapshots without a recorded time (pre-upgrade
    * metadata) are never matched by time travel.
    */
  def snapshotAsOfTime(epochMs: Long): Option[Long] = {
    val hits = md.snapshots.filter(s =>
      s.timestampMs >= 0 && s.timestampMs <= epochMs)
    if (hits.isEmpty) None else Some(hits.maxBy(s => (s.timestampMs, s.id)).id)
  }

  def changesBetween(spark: SparkSession, fromSnapshot: Long,
      toSnapshot: Long): DataFrame = {
    val files = md.snapshots
      .filter(s => s.id > fromSnapshot && s.id <= toSnapshot &&
        (s.operation == "append" || s.operation == "upsert"))
      .flatMap(_.files)
    readPinned(spark, files)
  }

  /** Changelog scan with delete markers (Iceberg's
    * `create_changelog_view` shape): every row added or removed by
    * snapshots in (fromSnapshot, toSnapshot], tagged with
    * `_change_type` ("insert" | "delete"), `_change_ordinal` (dense
    * commit order within the range) and `_change_snapshot_id`. Unlike
    * `changesBetween` (added rows only), a mirror can replay a history
    * containing plain MoR deletes: apply each ordinal's deletes, then
    * its inserts (an upsert's own rows must survive its own key batch,
    * mirroring sequence-number semantics).
    *
    * The appends, upserts and deletes of the range are ONE pinned
    * connector scan — the changelog stream's partitions
    * (`LakeScan.changelogPartitions`) planned as a batch: no join, no
    * broadcast, no driver-side read of delete files. Marker content:
    * positional deletes emit the FULL deleted rows (the affected data
    * files are read back by a reader that keeps only the positions the
    * snapshot's delete files or vector delta name — O(affected
    * files)); equality-delete batches emit the KEY columns (nested
    * keys fill their enclosing structs) with every other column null —
    * the batch never knew the victim rows, only their keys, and
    * re-deriving them would need the pre-image of the whole table.
    *
    * Rewrites move bytes, not data — skipped, no ordinal consumed.
    * Copy-on-write commits (overwrite/replace) carry no row-level
    * change information (removed paths were REWRITTEN, with survivors,
    * into new files) and are refused unless `includeCowDiffs` /
    * `includeReplaceDiffs` opt into computing their row diffs, which
    * union in as `exceptAll` frames at their own ordinals.
    */
  def changelogBetween(spark: SparkSession, fromSnapshot: Long,
      toSnapshot: Long, includeCowDiffs: Boolean = false,
      includeReplaceDiffs: Boolean = false): DataFrame = {
    val current = md.currentSchema
    val clean = Reconcile.clean(current).asInstanceOf[StructType]
    val range = md.snapshots
      .filter(s => s.id > fromSnapshot && s.id <= toSnapshot)
    // a copy-on-write "overwrite" records which FILES it replaced, not
    // which rows changed — by default that refuses (Iceberg's changelog
    // has the same limitation). includeCowDiffs opts into COMPUTING the
    // row delta: removed-files-as-visible-before minus new files =
    // deletes, the reverse = inserts (multiset exceptAll, so kept rows
    // cancel exactly). Cost is O(rewritten bytes) for those snapshots —
    // proportional to what the CoW itself already rewrote, never the
    // table. Full-content "replace" (INSERT OVERWRITE / RTAS) refuses
    // by default too — it resets the replay rather than changing
    // identifiable rows; includeReplaceDiffs opts into the SAME
    // computed diff over the whole before/after states (multiset
    // exceptAll — kept rows cancel), at O(replaced bytes): the content
    // the replace itself rewrote, which IS the whole table at that
    // point.
    val allowed = Set("append", "upsert", "delete") ++
      (if (includeCowDiffs) Set("overwrite") else Set.empty) ++
      (if (includeReplaceDiffs) Set("replace") else Set.empty)
    val bad = range.filterNot(s =>
      allowed.contains(s.operation) || LakeTable.isByteMove(s.operation))
    require(bad.isEmpty,
      s"changelog cannot represent snapshot(s) " +
        bad.map(s => s"${s.id}(${s.operation})").mkString(", ") +
        (if (bad.exists(_.operation == "replace"))
          ": full-content replaces reset the replay (pass " +
            "includeReplaceDiffs=true to compute the before/after row " +
            "diff at O(replaced bytes) cost)"
        else ": copy-on-write commits carry no row-level change " +
          "information (pass includeCowDiffs=true to compute the row " +
          "delta at O(rewritten bytes) cost)"))
    // the row delta of one copy-on-write overwrite or full replace:
    // `before` minus `after` = deletes, the reverse = inserts. Kept
    // rows cancel in the multiset except; only genuinely deleted or
    // changed rows surface. Map-typed columns can't join a multiset
    // except directly — they diff as key-sorted entry arrays
    // (orderable, entry-order-insensitive) and are rebuilt after, so
    // the semantics stay full-row multiset equality for any schema
    def rowDiff(before: DataFrame, after: DataFrame): (DataFrame, DataFrame) =
      if (!current.fields.exists(f => LakeTable.hasMapType(f.dataType)))
        (before.exceptAll(after), after.exceptAll(before))
      else {
        def norm(df: DataFrame) = df.select(current.fields.toSeq.map(f =>
          LakeTable.mapNormExpr(col(s"`${f.name}`"), f.dataType)
            .as(f.name)): _*)
        def denorm(df: DataFrame) = df.select(current.fields.toSeq.map(f =>
          LakeTable.mapDenormExpr(col(s"`${f.name}`"), f.dataType)
            .as(f.name)): _*)
        val nb = norm(before)
        val na = norm(after)
        (denorm(nb.exceptAll(na)), denorm(na.exceptAll(nb)))
      }

    // one CoW overwrite: rows of the replaced files AS VISIBLE just
    // before it (their accumulated position deletes still applied —
    // CoW verbs refuse while equality batches are live, so positional
    // state is the only kind that can exist) against the rewritten
    // output
    def cowDiff(sn: SnapshotMeta): (DataFrame, DataFrame) = {
      val byPath = md.snapshots.filter(_.id < sn.id).flatMap(_.files)
        .map(f => LakeTable.normalizePath(f.path) -> f).toMap
      val removedMetas = sn.removedPaths.map(LakeTable.normalizePath).map(p =>
        byPath.getOrElse(p, throw new IllegalStateException(
          s"changelog: overwrite ${sn.id} replaced $p, which no " +
            s"snapshot < ${sn.id} lists (expired history?)")))
      rowDiff(readPinned(spark, removedMetas,
          LakeTable.liveDeletes(md.snapshots.filter(_.id < sn.id))),
        readPinned(spark, sn.files))
    }

    // one full-content replace: the WHOLE table as visible at the
    // preceding snapshot (every live delete applied) against the
    // replace's own file set — a replace that re-writes 99% of the
    // table unchanged emits only the 1% that moved
    def replaceDiff(sn: SnapshotMeta): (DataFrame, DataFrame) = {
      val prev = md.snapshots.filter(_.id < sn.id).map(_.id)
        .reduceOption(_ max _)
      val before = prev match {
        case Some(p) => read(spark, asOfSnapshot = Some(p))
        case None => spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          clean)
      }
      rowDiff(before, readPinned(spark, sn.files))
    }

    val ordered = range.sortBy(_.id)
      .filterNot(s => LakeTable.isByteMove(s.operation)).zipWithIndex
    val (diffs, rowLevel) = ordered.partition { case (sn, _) =>
      sn.operation == "overwrite" || sn.operation == "replace" }
    // the computed diffs (reachable only under the opt-ins — the
    // require above), each side with its snapshot's change columns
    val diffLegs = diffs.flatMap { case (sn, ord) =>
      val (delRows, insRows) =
        if (sn.operation == "replace") replaceDiff(sn) else cowDiff(sn)
      Seq(delRows -> "delete", insRows -> "insert").map { case (rows, typ) =>
        rows.select(col("*"), lit(typ).as("_change_type"),
          lit(ord).as("_change_ordinal"), lit(sn.id).as("_change_snapshot_id"))
      }
    }
    // every append, upsert and delete: one pinned connector scan of
    // their markers and added rows
    (graft.sources.LakeSource.engineRead(spark, this,
      changelog = Some(rowLevel)) +: diffLegs).reduce(_.unionByName(_))
  }

  /** `identifierCols` resolved: explicit → as given; empty → the
    * table's declared identifier fields; neither → loud failure.
    */
  private[lake] def changelogIdentity(identifierCols: Seq[String],
      op: String): Seq[String] = {
    val ident =
      if (identifierCols.nonEmpty) identifierCols else identifierFieldNames
    require(ident.nonEmpty,
      s"$op needs identifier columns — pass them explicitly or declare " +
        "the 'identifier-fields' table property")
    ident
  }

  /** Changelog with UPDATE pairing (Iceberg's `create_changelog_view
    * (compute_updates => true)`): within one change ordinal, a delete
    * and an insert sharing the row identity are re-tagged
    * "update_before" / "update_after". Multiplicity is paired off by
    * rank — k deletes and m inserts of one identity yield min(k,m)
    * update pairs, the remainder keep their original type. The pairing
    * is one window over (ordinal, identity) — shuffle by fine-grained
    * keys, no global sort, so it scales with the changed rows, not the
    * table. Equality-delete markers carry only key columns, so an
    * update_before row sourced from one has its non-key columns null
    * (the batch never knew the victim row — documented limitation).
    */
  def changelogWithUpdates(spark: SparkSession, fromSnapshot: Long,
      toSnapshot: Long, identifierCols: Seq[String] = Seq.empty): DataFrame =
    changelogWithUpdates(
      changelogBetween(spark, fromSnapshot, toSnapshot), identifierCols)

  /** Same pairing over a PRECOMPUTED changelog frame: a caller that
    * needs several derived views of ONE range (updates + net + a
    * replay) computes `changelogBetween` once — localCheckpoint it —
    * and feeds it to each, instead of paying the per-ordinal marker
    * reads again per view.
    */
  def changelogWithUpdates(log: DataFrame,
      identifierCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ident = changelogIdentity(identifierCols, "changelogWithUpdates")
    // rank order must be deterministic AND orderable: maps (anywhere in
    // the type) cannot sort in Spark, so restrict to orderable data
    // columns — the identity columns are always orderable scalars, so
    // the order-by list can never be empty
    def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case s: StructType => s.fields.forall(f => orderable(f.dataType))
        case org.apache.spark.sql.types.ArrayType(e, _) => orderable(e)
        case _ => true
      }
    val dataCols = log.schema.fields
      .filterNot(f => f.name.startsWith("_change_"))
      .filter(f => orderable(f.dataType)).map(_.name).toSeq
    val grp = col("_change_ordinal") +: ident.map(c => col(s"`$c`"))
    val w = Window.partitionBy(grp: _*)
    // rank within (ordinal, identity, type), deterministic via the
    // orderable data columns; delete rank r pairs with insert rank r
    val wTyped = Window.partitionBy((grp :+ col("_change_type")): _*)
      .orderBy(dataCols.map(c => col(s"`$c`")): _*)
    val isIns = when(col("_change_type") === "insert", 1).otherwise(0)
    log
      .withColumn("_n_ins", sum(isIns).over(w))
      .withColumn("_n_del", sum(lit(1) - isIns).over(w))
      .withColumn("_rn", row_number().over(wTyped))
      .withColumn("_change_type",
        when(col("_rn") <= least(col("_n_ins"), col("_n_del")),
          when(col("_change_type") === "delete", "update_before")
            .otherwise("update_after"))
          .otherwise(col("_change_type")))
      .drop("_n_ins", "_n_del", "_rn")
  }

  /** Net changes over the range (Iceberg's `create_changelog_view
    * (net_changes => true)`): collapse each identity's change chain to
    * its net effect. Whether the identity existed BEFORE the range is
    * read off its first event (a delete ⇒ it existed), whether it
    * exists AFTER off its last (an insert ⇒ it does); event order is
    * (ordinal, deletes-before-inserts), mirroring replay order.
    *   existed → exists : first delete + last insert survive
    *   absent  → exists : last insert survives ("insert")
    *   existed → absent : first delete survives ("delete")
    *   absent  → absent : nothing (born and died inside the range)
    * One window over the identity — same scaling argument as updates.
    *
    * Blind-upsert caveat: an upsert's key batch emits a delete marker
    * without knowing whether the key existed, so an identity BORN by a
    * blind upsert reads as "existed" here — it nets to an update pair
    * (if it survives) or an idempotent delete (if killed in-range)
    * instead of a plain insert / nothing. Both stay correct as REPLAY
    * instructions (delete-then-insert ≡ insert on a mirror; deleting an
    * absent key is a no-op); only the labels are conservative.
    */
  def changelogNet(spark: SparkSession, fromSnapshot: Long,
      toSnapshot: Long, identifierCols: Seq[String] = Seq.empty): DataFrame =
    changelogNet(
      changelogBetween(spark, fromSnapshot, toSnapshot), identifierCols)

  /** Net changes over a PRECOMPUTED changelog frame (see the
    * `changelogWithUpdates` log overload for when to use this). */
  def changelogNet(log: DataFrame,
      identifierCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ident = changelogIdentity(identifierCols, "changelogNet")
    val w = Window.partitionBy(ident.map(c => col(s"`$c`")): _*)
    // event key: ordinal * 2 + (1 if insert) — deletes replay first
    val key = col("_change_ordinal") * 2 +
      when(col("_change_type") === "insert", 1).otherwise(0)
    log
      .withColumn("_k", key)
      .withColumn("_kmin", min(col("_k")).over(w))
      .withColumn("_kmax", max(col("_k")).over(w))
      .withColumn("_pre", col("_kmin") % 2 === 0)
      .withColumn("_post", col("_kmax") % 2 === 1)
      .filter(
        (col("_pre") && col("_post") &&
          (col("_k") === col("_kmin") || col("_k") === col("_kmax"))) ||
        (!col("_pre") && col("_post") && col("_k") === col("_kmax")) ||
        (col("_pre") && !col("_post") && col("_k") === col("_kmin")))
      .withColumn("_change_type",
        when(col("_pre") && col("_post"),
          when(col("_change_type") === "delete", "update_before")
            .otherwise("update_after"))
          .otherwise(col("_change_type")))
      .drop("_k", "_kmin", "_kmax", "_pre", "_post")
  }
}
