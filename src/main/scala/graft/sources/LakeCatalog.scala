package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** Catalog plugin exposing the warehouse to SQL:
  *
  *   spark.sql.catalog.graft           = graft.sources.LakeCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *   SELECT * FROM graft.customer_order.orders
  *
  * The full SQL lifecycle routes through the engine's own machinery:
  * CREATE TABLE / CTAS and ALTER TABLE (add/drop/retype top-level
  * columns) convert to the TableDef contract — identical field-ID
  * assignment and evolution semantics as a JSON definition — and
  * DROP TABLE removes the table directory. RENAME and nested ALTERs
  * stay on the table-def path.
  */
class LakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  /** The configured warehouse root — resolved by the PARTITION FIELD
    * DDL command, which executes outside the TableCatalog surface.
    */
  def warehousePath: String = warehouse

  // lets `ALTER TABLE ... ADD COLUMN ... DEFAULT v` reach alterTable
  // (the analyzer refuses the clause without the capability)
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  // ---- persistent views (Spark's ViewCatalog; Iceberg's view spec) ----

  private def viewFile(ident: Identifier): java.nio.file.Path = {
    require(ident.namespace().length == 1,
      s"views live in <database>.<name>: $ident")
    LakeViews.path(warehouse, ident.namespace()(0), ident.name())
  }

  private def loadViewDoc(ident: Identifier): LakeViews.ViewDoc =
    LakeViews.read(viewFile(ident)).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    require(ns.length == 1, "expected <database> namespace")
    if (!Files.isDirectory(Paths.get(warehouse, ns(0))))
      throw new NoSuchNamespaceException(ns)
    val d = LakeViews.dir(warehouse, ns(0))
    if (!Files.isDirectory(d)) Array.empty
    else scala.util.Using.resource(Files.list(d)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.startsWith("."))
        .map(n => Identifier.of(ns, n.stripSuffix(".json")))
        .toArray.sortBy(_.name())
    }
  }

  override def viewExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && Files.exists(viewFile(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View =
    new LakeView(s"$catalogName.${ident.namespace()(0)}.${ident.name()}",
      loadViewDoc(ident))

  private def versionOf(info:
      org.apache.spark.sql.connector.catalog.ViewInfo,
      id: Int): LakeViews.ViewVersion =
    LakeViews.ViewVersion(id, System.currentTimeMillis(), info.sql(),
      info.schema().json,
      Option(info.queryColumnNames()).map(_.toSeq).getOrElse(Seq.empty),
      Option(info.columnAliases()).map(_.toSeq).getOrElse(Seq.empty),
      Option(info.columnComments()).map(_.toSeq).getOrElse(Seq.empty),
      info.currentCatalog(),
      Option(info.currentNamespace()).map(_.toSeq).getOrElse(Seq.empty))

  override def createView(info:
      org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    if (!Files.isDirectory(Paths.get(warehouse, ident.namespace()(0))))
      throw new NoSuchNamespaceException(ident.namespace())
    // a view must not SHADOW an existing table: every read of the
    // name would silently switch from the table to the view
    require(!LakeTable.exists(warehouse, ident.namespace()(0),
        ident.name()),
      s"cannot create view '${ident.namespace()(0)}.${ident.name()}': " +
        "a table with that name already exists")
    val props = Option(info.properties())
      .map(m => scala.jdk.CollectionConverters.MapHasAsScala(m)
        .asScala.toMap).getOrElse(Map.empty[String, String])
    val doc = LakeViews.ViewDoc(ident.name(), 1,
      Seq(versionOf(info, 1)), props)
    try LakeViews.create(viewFile(ident), doc)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(ident)
    }
    new LakeView(s"$catalogName.${ident.namespace()(0)}.${ident.name()}",
      doc)
  }

  /** CREATE OR REPLACE appends a VERSION (the definition history stays
    * auditable, Iceberg's view-versioning model) and repoints the
    * current id; properties take the replacing definition's.
    */
  override def replaceView(info:
      org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    LakeViews.read(viewFile(ident)) match {
      case None =>
        if (!orCreate) throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchViewException(ident)
        createView(info)
      case Some(prev) =>
        val nextId = prev.versions.map(_.id).max + 1
        val props = Option(info.properties())
          .map(m => scala.jdk.CollectionConverters.MapHasAsScala(m)
            .asScala.toMap).getOrElse(Map.empty[String, String])
        val doc = prev.copy(currentVersionId = nextId,
          versions = prev.versions :+ versionOf(info, nextId),
          properties = props)
        LakeViews.write(viewFile(ident), doc)
        new LakeView(
          s"$catalogName.${ident.namespace()(0)}.${ident.name()}", doc)
    }
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val doc = changes.foldLeft(loadViewDoc(ident)) { (d, c) =>
      c match {
        case s: org.apache.spark.sql.connector.catalog
            .ViewChange.SetProperty =>
          d.copy(properties = d.properties + (s.property() -> s.value()))
        case r: org.apache.spark.sql.connector.catalog
            .ViewChange.RemoveProperty =>
          d.copy(properties = d.properties - r.property())
        case other => throw new IllegalArgumentException(
          s"unsupported view change: $other")
      }
    }
    LakeViews.write(viewFile(ident), doc)
    new LakeView(s"$catalogName.${ident.namespace()(0)}.${ident.name()}",
      doc)
  }

  override def dropView(ident: Identifier): Boolean = {
    if (ident.namespace().length != 1) return false
    // a materialized view owns its hidden backing table — dropping
    // only the doc would orphan the table AND permanently block
    // re-creating an MV under this name
    LakeViews.read(viewFile(ident)).foreach { doc =>
      doc.properties.get("graft.mat-view.table").foreach { mat =>
        dropTable(Identifier.of(ident.namespace(), mat))
        // MV sidecars: refresh history + lock
        Files.deleteIfExists(LakeViews.refreshLogPath(warehouse,
          ident.namespace()(0), ident.name))
        Files.deleteIfExists(LakeViews.dir(warehouse,
          ident.namespace()(0)).resolve(s".${ident.name}.refresh-lock"))
      }
    }
    Files.deleteIfExists(viewFile(ident))
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(from)
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    val doc0 = loadViewDoc(from)
    // a materialized view's backing table lives in ITS db
    // (`<db>.__mat_<name>`) and is resolved by the view's namespace —
    // moving only the doc to another db would strand the backing
    // table where refresh/DESCRIBE can no longer find it, and expose
    // it to another db's CREATE orphan-cleanup. Same-db renames are
    // safe: the backing keeps its original name and stays claimed by
    // the moved doc.
    if (doc0.properties.get("graft.mat-view").contains("true") &&
        from.namespace()(0) != to.namespace()(0))
      throw new UnsupportedOperationException(
        s"cannot rename materialized view '${from.namespace()(0)}." +
          s"${from.name}' across databases (its backing table " +
          s"'${from.namespace()(0)}.${doc0.properties.getOrElse(
            "graft.mat-view.table", "?")}' stays in the source db) — " +
          "recreate the view in the target database instead")
    val doc = doc0.copy(name = to.name())
    LakeViews.write(viewFile(to), doc)
    Files.delete(viewFile(from))
    // an MV's refresh history follows its name
    val oldLog = LakeViews.refreshLogPath(warehouse,
      from.namespace()(0), from.name)
    if (Files.exists(oldLog))
      Files.move(oldLog, LakeViews.refreshLogPath(warehouse,
        to.namespace()(0), to.name()),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.length == 1, "expected <database> namespace")
    val db = Paths.get(warehouse, namespace(0))
    if (!Files.isDirectory(db)) throw new NoSuchNamespaceException(namespace)
    scala.util.Using.resource(Files.list(db)) { st =>
      st.iterator().asScala
        .filter(p => LakeTable.exists(warehouse, namespace(0),
          p.getFileName.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata inspection: SELECT * FROM
    // graft.<db>.<table>.snapshots / .files — the extra path segment
    // arrives as a 2-level namespace
    if (ident.namespace.length == 2 &&
        MetaTables.names.contains(ident.name) &&
        LakeTable.exists(warehouse, ident.namespace()(0), ident.namespace()(1))) {
      val t = LakeTable.load(warehouse, ident.namespace()(0), ident.namespace()(1))
      return MetaTables.table(ident.toString, ident.name, t)
    }
    // materialized-view refresh history: SELECT * FROM
    // graft.<db>.<view>.refreshes — the MV sibling of .snapshots,
    // answered from the O(refreshes) sidecar log with zero data IO
    if (ident.namespace.length == 2 && ident.name == "refreshes" &&
        MatViewDdl.isMatView(warehouse, ident.namespace()(0),
          ident.namespace()(1))) {
      val (db, vn) = (ident.namespace()(0), ident.namespace()(1))
      import org.apache.spark.sql.types._
      return new MetaTable(ident.toString, StructType(Seq(
        StructField("ts_ms", LongType, nullable = false),
        StructField("mode", StringType, nullable = false),
        StructField("strategy", StringType, nullable = false),
        StructField("from_snapshot", LongType, nullable = false),
        StructField("to_snapshot", LongType, nullable = false),
        StructField("groups", LongType, nullable = false),
        StructField("duration_ms", LongType, nullable = false),
        StructField("outcome", StringType, nullable = false),
        StructField("reason", StringType, nullable = true))),
        LakeViews.readRefreshes(
          LakeViews.refreshLogPath(warehouse, db, vn)).map(e =>
          Seq[Any](e.tsMs, e.mode, e.strategy, e.fromSnapshot,
            e.toSnapshot, e.groups, e.durationMs, e.outcome,
            if (e.reason.isEmpty) null else e.reason)))
    }
    // cross-table transaction log: SELECT * FROM
    // graft.<db>.<table>.transactions — every coordinated transaction
    // that named this table as a participant, with its decided state
    // (commit/abort, or pending while a coordinator is mid-flight).
    // Single-table commits never coordinate and never appear.
    if (ident.namespace.length == 2 && ident.name == "transactions" &&
        LakeTable.exists(warehouse, ident.namespace()(0),
          ident.namespace()(1))) {
      val (db, tbl) = (ident.namespace()(0), ident.namespace()(1))
      import org.apache.spark.sql.types._
      return new MetaTable(ident.toString, StructType(Seq(
        StructField("ts_ms", LongType, nullable = false),
        StructField("txn_id", StringType, nullable = false),
        StructField("state", StringType, nullable = false),
        StructField("participants", StringType, nullable = false))),
        graft.lake.LakeTxn.records(warehouse)
          .filter(_._4.contains((db, tbl)))
          .map { case (ts, id, state, parts) =>
            Seq[Any](ts, id, state,
              parts.map(p => s"${p._1}.${p._2}").sorted.mkString(","))
          })
    }
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val (db, tbl) = (ident.namespace()(0), ident.name)
    if (!LakeTable.exists(warehouse, db, tbl))
      throw new NoSuchTableException(ident)
    val t = LakeTable.load(warehouse, db, tbl)
    new LakeSparkTable(warehouse, db, tbl, 0L, t)
  }

  /** SQL time travel: SELECT … FROM graft.db.t VERSION AS OF <snapshot>.
    * A non-numeric version resolves as a named ref (tag/branch) —
    * `VERSION AS OF 'training-set-v1'`.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val (db, tbl) = (ident.namespace()(0), ident.name)
    if (!LakeTable.exists(warehouse, db, tbl))
      throw new NoSuchTableException(ident)
    val t = LakeTable.load(warehouse, db, tbl)
    // a writable branch resolves to its overlay view (fork-base state
    // plus the branch's own commits) — Iceberg's branch-read semantics
    t.metadata.refs.get(version) match {
      case Some(r) if r.kind == "branch" && r.baseSnapshotId.isDefined =>
        return new LakeSparkTable(warehouse, db, tbl, 0L, t,
          branchName = Some(version))
      case _ => ()
    }
    val sid = scala.util.Try(version.toLong).toOption
      .orElse(t.refSnapshot(version))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: VERSION AS OF takes a snapshot id or a ref " +
          s"name; '$version' is neither for $ident " +
          s"(refs: ${t.metadata.refs.keys.toSeq.sorted.mkString(", ")})"))
    t.schemaAsOf(sid) // validate the pin before handing out the table
    new LakeSparkTable(warehouse, db, tbl, 0L, t, Some(sid))
  }

  /** SQL time travel by wall clock: SELECT … FROM graft.db.t
    * TIMESTAMP AS OF '…' — Spark hands the instant as epoch MICROS;
    * resolve to the latest snapshot committed at or before it.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val (db, tbl) = (ident.namespace()(0), ident.name)
    if (!LakeTable.exists(warehouse, db, tbl))
      throw new NoSuchTableException(ident)
    val t = LakeTable.load(warehouse, db, tbl)
    val sid = t.snapshotAsOfTime(Math.floorDiv(timestamp, 1000L))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: no snapshot of $ident at or before " +
          s"timestamp $timestamp (micros)"))
    new LakeSparkTable(warehouse, db, tbl, 0L, t, Some(sid))
  }

  /** CREATE TABLE / CTAS: the SQL schema and partition transforms are
    * converted into the engine's TableDef contract (same field-ID
    * assignment, spec build, metadata commit as a JSON definition).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val (db, tbl) = (ident.namespace()(0), ident.name)
    // the `__mat_` prefix is reserved for materialized-view backing
    // tables: CREATE MATERIALIZED VIEW treats an unclaimed table of
    // that name as a crashed CREATE's orphan and clears it — a user
    // table squatting on the prefix would be one CREATE away from
    // silent deletion, so refuse it at the door
    require(!tbl.startsWith("__mat_"),
      s"cannot create table '$db.$tbl': the '__mat_' prefix is " +
        "reserved for materialized-view backing tables")
    // defaults are an ADD COLUMN feature (initial default for
    // pre-column history); at CREATE there is no history and the
    // engine has no write-default — silently dropping the clause
    // would diverge from what the DDL promised, so refuse loudly
    schema.fields.foreach(f => require(
      !f.metadata.contains("CURRENT_DEFAULT"),
      s"column '${f.name}': DEFAULT at CREATE TABLE is unsupported " +
        "(initial defaults apply to ALTER TABLE ... ADD COLUMN)"))
    val cols = schema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val parts = partitions.toSeq.map { t =>
      val ref = t.references()(0).fieldNames()
      require(ref.length == 1,
        s"partition reference '${ref.mkString(".")}' must be a top-level " +
          "column (nested references would bind to the struct)")
      val colName = ref(0)
      val (transform, name) = t.name match {
        case "identity" => ("identity", s"${colName}_identity")
        case "years" => ("year", s"${colName}_year")
        case "months" => ("month", s"${colName}_month")
        case "days" => ("day", s"${colName}_day")
        case "hours" => ("hour", s"${colName}_hour")
        case "bucket" =>
          // PARTITIONED BY (bucket(N, col)): the literal arg is N
          val n = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value.toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            "bucket transform needs a literal bucket count"))
          (s"bucket[$n]", s"${colName}_bucket_$n")
        case "truncate" =>
          // PARTITIONED BY (truncate(W, col)): the literal arg is W
          val w = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value.toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            "truncate transform needs a literal width"))
          (s"truncate[$w]", s"${colName}_truncate_$w")
        case other => throw new UnsupportedOperationException(
          s"partition transform '$other' not supported (identity/" +
            "years/months/days/hours/bucket/truncate)")
      }
      graft.schema.PartitionDef(colName, transform, name)
    }
    val props = properties.asScala.toMap -
      "owner" - "provider" // Spark-injected bookkeeping keys
    // the mirror of createView's shadow check: a table must not take
    // a name a view already answers to
    require(LakeViews.read(LakeViews.path(warehouse, db, tbl)).isEmpty,
      s"cannot create table '$db.$tbl': a view with that name " +
        "already exists")
    LakeTable.create(warehouse, graft.schema.TableDef(
      db, tbl, cols, parts, props))
    loadTable(ident)
  }

  /** ALTER TABLE: add/drop/retype columns map onto the engine's
    * evolution diff (same field-ID carry-over as a new JSON
    * definition); RENAME COLUMN bypasses the name-based diff and
    * commits a schema version with the same field ID under the new
    * name (LakeTable.renameColumn) — old data files keep reading
    * through the field-ID reconcile.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val t = LakeTable.load(warehouse, ident.namespace()(0), ident.name)
    val (renames, rest0) =
      changes.partition(_.isInstanceOf[TableChange.RenameColumn])
    renames.foreach { case r: TableChange.RenameColumn =>
      require(r.fieldNames.length == 1,
        "ALTER RENAME nested columns: use a table-def evolution")
      t.renameColumn(r.fieldNames()(0), r.newName)
    }
    val (props, rest1) = rest0.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    if (props.nonEmpty) {
      val sets = props.collect { case p: TableChange.SetProperty =>
        p.property -> p.value }.toMap
      val unsets = props.collect { case p: TableChange.RemoveProperty =>
        p.property }
      // Spark routes SET LOCATION / COMMENT ON / SET OWNER through
      // reserved property keys — committing them as cosmetic entries
      // would report success while moving nothing; refuse loudly
      val reserved = Set("location", "comment", "owner", "provider",
        "external")
      (sets.keys ++ unsets).find(k => reserved(k.toLowerCase)).foreach(k =>
        throw new UnsupportedOperationException(
          s"graft catalog: reserved table property '$k' (SET LOCATION/" +
            "COMMENT ON/SET OWNER are unsupported — tables live at " +
            "their warehouse-derived path)"))
      t.updateProperties(sets, unsets)
    }
    val (defaultUpdates, rest) = rest1.partition(
      _.isInstanceOf[TableChange.UpdateColumnDefaultValue])
    defaultUpdates.foreach {
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          "SET DEFAULT on nested columns is unsupported")
        val colName = u.fieldNames()(0)
        val colType = t.currentSchema.fields.find(_.name == colName)
          .getOrElse(throw new IllegalArgumentException(
            s"no column '$colName'")).dataType
        // SET DEFAULT v → Some(plain literal); DROP DEFAULT / DEFAULT
        // NULL → None. Spark 4.1 populates only the SQL text here
        // (newCurrentDefault's expression is absent on this path), so
        // parse it with SPARK'S OWN parser — hand-rolled unquoting
        // gets escape rules and typed literals (5L, 5.0BD, "str")
        // wrong — then coerce to the column type.
        val value = Option(u.newDefaultValue()).map(_.trim)
          .filter(_.nonEmpty).flatMap { s =>
            val parsed = org.apache.spark.sql.catalyst.parser
              .CatalystSqlParser.parseExpression(s) match {
              case l: org.apache.spark.sql.catalyst.expressions.Literal => l
              case other => throw new UnsupportedOperationException(
                s"non-literal DEFAULT expression: $other")
            }
            Option(org.apache.spark.sql.catalyst.expressions
              .Cast(parsed, colType, Some("UTC")).eval(null)).map {
              case u8: org.apache.spark.unsafe.types.UTF8String => u8.toString
              case v => String.valueOf(v)
            }
          }
        // commit through the SAME handle the rest of the ALTER uses —
        // a second handle would fork the optimistic-concurrency chain
        // and fail a batched ALTER halfway through
        t.setWriteDefault(colName, value)
    }
    if (rest.isEmpty) return loadTable(ident)
    var cols = t.currentSchema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val defaults = scala.collection.mutable.Buffer.empty[(String, String)]
    rest.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "ALTER ADD nested columns: use a table-def evolution")
        // DEFAULT NULL means "no default" (a column without one
        // already reads NULL for pre-column history) — recording the
        // rendered string "null" would fill a literal string/crash a
        // numeric parse
        Option(a.defaultValue()).map(_.getValue.value())
          .filter(_ != null).foreach { v =>
          // initial default (Iceberg v3): record the literal's plain
          // string rendering, re-typed by the column type on fill.
          // Defaults.supported rejects types whose rendering doesn't
          // round-trip (dates/timestamps/complex) — loud, at DDL time.
          require(graft.schema.Defaults.supported(a.dataType),
            s"DEFAULT unsupported for type ${a.dataType.simpleString} " +
              "(atomic int/long/float/double/boolean/decimal/string)")
          defaults += a.fieldNames()(0) -> String.valueOf(v)
        }
        cols = cols :+ graft.schema.TypeMapper.toColumnDef(
          a.fieldNames()(0), a.dataType, a.isNullable)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "ALTER DROP nested columns: use a table-def evolution")
        cols = cols.filterNot(_.name == d.fieldNames()(0))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "ALTER nested columns: use a table-def evolution")
        cols = cols.map(c => if (c.name == u.fieldNames()(0))
          graft.schema.TypeMapper.toColumnDef(c.name, u.newDataType,
            !c.required)
          else c)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER ${other.getClass.getSimpleName}" +
          " (add/drop/retype top-level columns only)")
    }
    val spec = t.metadata.currentSpec.fields.map { f =>
      val src = graft.schema.FieldIds.flatten(t.currentSchema)
        .collectFirst { case (p, fd)
          if graft.schema.FieldIds.idOf(fd) == f.sourceFieldId => p }.get
      graft.schema.PartitionDef(src, f.transform, f.name)
    }
    // defaults land in the SAME commit as the schema version — a
    // failed ALTER can never leave columns added with defaults lost
    val (msgs, hadError) = t.evolve(graft.schema.TableDef(
      ident.namespace()(0), ident.name, cols, spec, t.metadata.properties),
      initialDefaults = defaults.toMap)
    if (hadError) throw new IllegalArgumentException(
      s"ALTER rejected: ${msgs.mkString("; ")}")
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    require(ident.namespace.length == 1, "expected <database>.<table>")
    val loc = LakeTable.tableLocation(warehouse, ident.namespace()(0),
      ident.name)
    if (!Files.exists(loc)) return false
    scala.util.Using.resource(Files.walk(loc)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    true
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = throw new UnsupportedOperationException(
    "graft catalog: RENAME not supported (metadata records identity)")

  // ---- FunctionCatalog: partition-transform functions -----------------
  // Spark resolves a scan's reported years(ts)/months(ts)/… clustering
  // through the table's catalog — serving these enables storage-
  // partitioned joins on time-partitioned lake tables.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      LakeFunctions.names.map(n =>
        Identifier.of(Array.empty[String], n)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && LakeFunctions.isKnown(ident.name))
      LakeFunctions.unbound(ident.name)
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  // ---- ProcedureCatalog: SQL CALL maintenance -------------------------
  // CALL graft.system.expire_snapshots(db => 'd', table => 't',
  //   keep_last => 3) — the Iceberg procedures surface for table
  // maintenance, returning result relations.

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.length == 1 && namespace(0) == "system")
      LakeProcedures.names.map(n => Identifier.of(namespace, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (ident.namespace.length == 1 && ident.namespace()(0) == "system" &&
        LakeProcedures.names.contains(ident.name))
      LakeProcedures.unbound(warehouse, catalogName, ident.name)
    else throw new RuntimeException(
      s"graft catalog: unknown procedure $ident (have " +
        s"${LakeProcedures.names.toSeq.sorted.mkString("system.", ", system.", "")})")
}

/** Iceberg-style metadata inspection tables (`db.table.snapshots`,
  * `db.table.files`, `.manifests`, …): the snapshot log and file
  * inventory as queryable relations. Summary relations (.snapshots,
  * .manifests, .history, .refs) answer from the O(snapshots) table
  * document with zero manifest IO; `.files` is a DISTRIBUTED scan
  * (one partition per manifest, parsed executor-side —
  * [[LakeFilesTable]]); `.partitions` still aggregates driver-side
  * (its output is partition-count-sized, but its input walk
  * materializes manifests — at 100 TB, prefer grouping over `.files`
  * in SQL).
  */
private[sources] object MetaTables {
  import org.apache.spark.sql.types._

  val names: Set[String] =
    Set("snapshots", "files", "refs", "history", "partitions",
      "manifests", "stats", "delete_files")

  private val snapshotsSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("added_bytes", LongType, nullable = false),
    StructField("removed_files", IntegerType, nullable = false),
    StructField("delete_files", IntegerType, nullable = false)))

  private val refsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("base_snapshot_id", LongType, nullable = true)))

  private val historySchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("wap_id", StringType, nullable = true),
    StructField("is_current", BooleanType, nullable = false)))

  private val partitionsSchema = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false),
    StructField("deleted_rows", LongType, nullable = false)))

  private val manifestsSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("manifest", StringType, nullable = false),
    StructField("n_files", IntegerType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("partition_summary", StringType, nullable = false)))

  private val statsSchema = StructType(Seq(
    StructField("column_name", StringType, nullable = false),
    StructField("field_id", IntegerType, nullable = false),
    StructField("ndv", LongType, nullable = false),
    StructField("null_count", LongType, nullable = false),
    StructField("as_of_snapshot", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("mode", StringType, nullable = false)))

  private val deleteFilesSchema = StructType(Seq(
    StructField("data_path", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("deleted_rows", LongType, nullable = false),
    StructField("storage", StringType, nullable = false)))

  private val filesSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("schema_id", IntegerType, nullable = false),
    StructField("spec_id", IntegerType, nullable = false),
    StructField("partition", StringType, nullable = false)))

  def table(fullName: String, kind: String, t: LakeTable): Table = kind match {
    case "stats" => new MetaTable(fullName, statsSchema,
      // ANALYZE-computed column statistics with snapshot provenance
      // (empty until CALL system.analyze runs); field ids resolve to
      // CURRENT names — a column dropped since the analyze is omitted
      t.metadata.tableStats.toSeq.flatMap { ts =>
        val byId = t.currentSchema.fields
          .filter(graft.schema.FieldIds.hasId)
          .map(f => graft.schema.FieldIds.idOf(f) -> f.name).toMap
        ts.cols.flatMap(c => byId.get(c.fieldId).map(n =>
          Seq[Any](n, c.fieldId, c.ndv, c.nullCount, ts.snapshotId,
            ts.rowCount, if (ts.exact) "exact" else "approx")))
      })
    case "delete_files" => new MetaTable(fullName, deleteFilesSchema,
      // live merge-on-read delete state per data file (Iceberg's
      // .delete_files shape): vector entries name their container
      // blob, v2 positional entries their delete parquets — the input
      // to "which files carry delete debt worth compacting away",
      // zero data IO (the state is O(delete-bearing files) metadata)
      LakeTable.liveDeletes(t.metadata.snapshots).toSeq.sortBy(_._1)
        .map { case (dataPath, ds) =>
          ds.dv match {
            case Some(d) => Seq[Any](dataPath, "vector", ds.rows,
              s"${d.dvPath}@${d.offset}+${d.length}")
            case None => Seq[Any](dataPath, "parquet", ds.rows,
              ds.paths.sorted.mkString(","))
          }
        })
    case "refs" => new MetaTable(fullName, refsSchema,
      t.metadata.refs.toSeq.sortBy(_._1).map { case (n, r) =>
        Seq[Any](n, r.kind, r.snapshotId,
          r.baseSnapshotId.map(Long.box).orNull)
      })
    case "history" => new MetaTable(fullName, historySchema,
      t.metadata.snapshots.map { s =>
        Seq[Any](s.id, s.timestampMs, s.operation, s.wapId.orNull,
          s.id == t.metadata.snapshots.map(_.id).max)
      })
    case "partitions" => {
      // per-partition live rollup (Iceberg's .partitions):
      // file/row/byte counts plus live merge-on-read deleted rows —
      // the input to "which partitions need compaction or are skewed"
      // decisions, zero data IO at any table size. Manifests are
      // parsed EXECUTOR-side (one task each, same replay as
      // LakeFilesTable: suffix since the last rewrite, minus paths
      // removed by later overwrites — exact because data-file paths
      // are write-unique); only per-(manifest × partition) PARTIAL
      // aggregates come back for the final driver merge, so the
      // driver's working set is O(manifests × partitions touched),
      // never O(table files). Inline (pre-manifest) file lists fold
      // in driver-side, preserving compatibility.
      val snaps = t.metadata.snapshots
      val (suffix, removed) = LakeTable.replaySuffix(snaps)
      // delete-row counts keyed by normalized data-file path — sized
      // by MoR delete activity, safe to ship into the tasks
      val delRows: Map[String, Long] = LakeTable
        .liveDeletes(snaps).map { case (p, ds) => p -> ds.rows }
      // a function VALUE (serializable on its own) so the RDD closure
      // below doesn't capture the enclosing catalog object
      val partial: (Seq[graft.lake.DataFileMeta], Set[String],
          Map[String, Long]) => Seq[((String, Int), (Int, Long, Long, Long))] =
        (fs, rm, dr) => fs.filterNot(f => rm(f.path))
          .groupBy(f => (f.partitionValues.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(","), f.specId))
          .map { case (key, g) =>
            // bytes = -1 marks pre-upgrade metadata without the
            // field; summing the sentinel would report negative totals
            key -> (g.size, g.map(_.rows).sum,
              g.map(_.bytes).filter(_ >= 0).sum,
              g.map(f => dr.getOrElse(
                LakeTable.normalizePath(f.path), 0L)).sum)
          }.toSeq
      val manifestPaths = suffix.flatMap(s =>
        LakeTable.manifestParts(s.files).filter(_.nonEmpty).map(_.pathStr))
      val inline = suffix.flatMap(s =>
        if (LakeTable.manifestParts(s.files).nonEmpty) Seq.empty
        else s.files)
      // DEFERRED: the manifest job runs at first scan planning, not at
      // catalog resolution — analysis-only paths (EXPLAIN, schema
      // probes) must not pay a cluster job
      def merged(): Seq[Seq[Any]] = {
        val partials = (if (manifestPaths.isEmpty) Seq.empty else {
          val (rm, dr) = (removed, delRows)
          org.apache.spark.sql.SparkSession.active.sparkContext
            .parallelize(manifestPaths, manifestPaths.size)
            .flatMap(mp => partial(
              graft.lake.ManifestIO.readManifest(mp), rm, dr))
            .collect().toSeq
        }) ++ partial(inline, removed, delRows)
        partials.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case ((part, specId), ps) =>
            Seq[Any](part, specId, ps.map(_._2._1).sum,
              ps.map(_._2._2).sum, ps.map(_._2._3).sum,
              ps.map(_._2._4).sum)
          }
      }
      new DeferredMetaTable(fullName, partitionsSchema, () => merged())
    }
    case "snapshots" => new MetaTable(fullName, snapshotsSchema,
      // staged (write-audit-publish) snapshots are listed too — their
      // operation ("staged-append") distinguishes them from history.
      // Manifest-backed snapshots answer from the recorded summary
      // counts — listing N snapshots must stay zero-IO, not load N
      // manifests; materializing is only the fallback for pre-upgrade
      // metadata without a byte count (and inline file lists).
      (t.metadata.snapshots ++ t.metadata.staged).sortBy(_.id).map { s =>
        val parts = LakeTable.manifestParts(s.files)
        val (nFiles, rows, bytes) =
          if (parts.nonEmpty && parts.forall(_.byteCount >= 0))
            (parts.map(_.fileCount).sum, parts.map(_.rowCount).sum,
              parts.map(_.byteCount).sum)
          else (s.files.size, s.files.map(_.rows).filter(_ >= 0).sum,
            s.files.map(_.bytes).filter(_ >= 0).sum)
        Seq[Any](s.id, s.operation, nFiles, rows, bytes,
          s.removedPaths.size,
          // one delete structure per positional parquet file or per
          // deletion vector — v2 and v3 commits count alike
          s.deletePaths.size + s.dvs.size)
      })
    case "manifests" => new MetaTable(fullName, manifestsSchema,
      // the out-of-line metadata tier itself (Iceberg's .manifests):
      // one row per manifest-backed snapshot, answered entirely from
      // the recorded summaries — zero manifest IO at any table size
      (t.metadata.snapshots ++ t.metadata.staged).sortBy(_.id).flatMap {
        s => LakeTable.manifestParts(s.files).map(mf => Seq[Any](
          s.id, mf.manifestName, mf.fileCount, mf.rowCount,
          mf.byteCount,
          mf.partitionSummary.toSeq.sortBy(_._1).map { case (c, vs) =>
            s"$c=[${vs.toSeq.sorted.mkString("|")}]"
          }.mkString(",")))
      })
    case "files" =>
      // the LIVE file inventory (Iceberg's .files semantics) as a
      // DISTRIBUTED scan — see LakeFilesTable
      new LakeFilesTable(fullName, filesSchema, t)
  }
}

/** The `.files` metadata relation as a DISTRIBUTED scan: one input
  * partition per manifest, parsed executor-side — the relation's
  * working set is per-manifest on executors, never O(table files) on
  * the driver (Iceberg's metadata tables scan manifests the same
  * way). Replay distributes cleanly: only snapshots since the last
  * "rewrite" can contribute live files (a rewrite discards everything
  * before it), and files removed by later copy-on-write overwrites
  * are dropped via a removed-path set carried into every partition —
  * exact because data-file paths are write-unique (a removed path
  * never reappears under a later snapshot). `snapshot_id` records the
  * snapshot that listed the file (for squash-carried files, the
  * squash). Inline (pre-manifest) file lists render driver-side as
  * one extra partition, preserving compatibility.
  */
private[sources] class LakeFilesTable(name0: String,
    schema0: org.apache.spark.sql.types.StructType, t: LakeTable)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._

  override def name(): String = name0
  override def schema(): org.apache.spark.sql.types.StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan with Batch {
      override def readSchema(): org.apache.spark.sql.types.StructType =
        schema0
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val (suffix, removedSet) =
          LakeTable.replaySuffix(t.metadata.snapshots)
        val removed = removedSet.toArray
        val inline = suffix.flatMap { s =>
          if (LakeTable.manifestParts(s.files).nonEmpty) Seq.empty
          else s.files.filterNot(f => removed.contains(f.path))
            .map(f => LakeFilesReader.render(s.id, f).toSeq)
        }
        (suffix.flatMap { s =>
          // fileCount answers nonEmpty without manifest IO
          LakeTable.manifestParts(s.files).filter(_.nonEmpty)
            .map(p => ManifestScanPartition(p.pathStr, s.id, removed))
        } ++ (if (inline.isEmpty) Seq.empty
              else Seq(MetaRowsPartition(
                inline.map(_.toArray).toArray)))).toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        LakeFilesReader
    }
  }
}

private[sources] case class ManifestScanPartition(manifestPath: String,
    snapshotId: Long, removed: Array[String])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] object LakeFilesReader
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  /** One `.files` row (pre-UTF8 conversion — MetaReaderFactory and the
    * manifest reader both convert Strings on emit).
    */
  def render(snapshotId: Long, f: graft.lake.DataFileMeta): Array[Any] =
    Array[Any](snapshotId, f.path, f.rows, f.bytes, f.schemaId, f.specId,
      f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString(","))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case mp: ManifestScanPartition => new PartitionReader[InternalRow] {
        private val removed = mp.removed.toSet
        // the manifest parse happens HERE, on the executor
        private val files = graft.lake.ManifestIO
          .readManifest(mp.manifestPath)
          .filterNot(f => removed(f.path)).toArray
        private var i = -1
        override def next(): Boolean = { i += 1; i < files.length }
        override def get(): InternalRow = new GenericInternalRow(
          render(mp.snapshotId, files(i)).map {
            case s: String => UTF8String.fromString(s): Any
            case x => x
          })
        override def close(): Unit = ()
      }
      case other => MetaReaderFactory.createReader(other)
    }
}

/** A metadata relation whose rows are computed at SCAN-planning time
  * (per query run), not at catalog resolution — for relations like
  * `.partitions` whose rendering launches a distributed job.
  */
private[sources] class DeferredMetaTable(name0: String,
    schema0: org.apache.spark.sql.types.StructType,
    rows: () => Seq[Seq[Any]])
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._

  override def name(): String = name0
  override def schema(): org.apache.spark.sql.types.StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = new ScanBuilder {
    override def build(): Scan = new Scan with Batch {
      override def readSchema(): org.apache.spark.sql.types.StructType =
        schema0
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(MetaRowsPartition(rows().map(_.toArray).toArray))
      override def createReaderFactory(): PartitionReaderFactory =
        MetaReaderFactory
    }
  }
}

/** A fixed set of driver-rendered rows as a DSv2 batch table. */
private[sources] class MetaTable(name0: String,
    schema0: org.apache.spark.sql.types.StructType,
    rows: Seq[Seq[Any]])
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read._

  override def name(): String = name0
  override def schema(): org.apache.spark.sql.types.StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val scan = new RowsScan(schema0, rows)
    new ScanBuilder { override def build(): org.apache.spark.sql.connector.read.Scan = scan }
  }
}

/** A fixed row set as a DSv2 Scan — shared by the metadata tables and
  * the CALL procedures' result relations.
  */
private[sources] class RowsScan(
    schema0: org.apache.spark.sql.types.StructType,
    rows: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._
  override def readSchema(): org.apache.spark.sql.types.StructType = schema0
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(MetaRowsPartition(rows.map(_.toArray).toArray))
  override def createReaderFactory(): PartitionReaderFactory =
    MetaReaderFactory
}

/** SQL CALL procedures for table maintenance — the Iceberg procedure
  * surface re-expressed over the engine's own lifecycle primitives:
  * expire_snapshots (history squash), remove_orphan_files (age-guarded
  * sweep), compact (live-set rewrite). Each returns a one-row result
  * relation.
  */
private[sources] object LakeProcedures {
  import org.apache.spark.sql.connector.catalog.procedures._
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.types._

  val names: Set[String] =
    Set("expire_snapshots", "expire_older_than", "remove_orphan_files",
      "compact", "rewrite_data_files", "add_files", "snapshot",
      "rewrite_position_delete_files",
      "rollback_to_snapshot", "create_tag", "create_branch",
      "drop_ref", "publish_wap", "discard_wap", "rebase_branch",
      "rewrite_manifests", "fast_forward",
      "add_partition_field", "drop_partition_field",
      "branch_delete", "branch_upsert", "branch_delete_cow",
      "branch_update_cow", "create_changelog_view", "analyze",
      "create_mat_view", "refresh_mat_view", "build_blooms")

  private def param(n: String, dt: DataType) =
    ProcedureParameter.in(n, dt).build()

  def unbound(warehouse: String, catalogName: String,
      procName: String): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft maintenance: $procName"
          override def isDeterministic: Boolean = false
          override def parameters(): Array[ProcedureParameter] = procName match {
            case "expire_snapshots" => Array(
              param("db", StringType), param("table", StringType),
              param("keep_after", LongType))
            case "expire_older_than" => Array(
              param("db", StringType), param("table", StringType),
              param("older_than_ms", LongType))
            case "remove_orphan_files" => Array(
              param("db", StringType), param("table", StringType),
              param("older_than_ms", LongType))
            case "compact" | "rewrite_manifests" |
                 "rewrite_position_delete_files" |
                 "build_blooms" => Array(
              param("db", StringType), param("table", StringType))
            // mode: '' / 'approx' = HLL ndv (the 100 TB default),
            // 'exact' = full COUNT(DISTINCT)
            case "analyze" => Array(
              param("db", StringType), param("table", StringType),
              param("mode", StringType))
            // Iceberg's rewrite_data_files(where => ..., options =>
            // min-file-size), scalar-arg form: `where_field` names a
            // partition field ('' = whole table), `where_values` its
            // allowed values (comma-separated), `smaller_than_bytes`
            // the small-file threshold (<= 0 = rewrite all in scope)
            case "rewrite_data_files" => Array(
              param("db", StringType), param("table", StringType),
              param("where_field", StringType),
              param("where_values", StringType),
              param("smaller_than_bytes", LongType))
            // Iceberg's add_files: register existing parquet files by
            // reference (comma-separated absolute paths);
            // partition_base = hive-layout root for partitioned tables
            // ('' = unpartitioned)
            case "add_files" => Array(
              param("db", StringType), param("table", StringType),
              param("paths", StringType),
              ProcedureParameter.in("partition_base", StringType)
                .defaultValue("''").build())
            // Iceberg's snapshot: zero-copy clone into to_db.to_table
            case "snapshot" => Array(
              param("db", StringType), param("table", StringType),
              param("to_db", StringType), param("to_table", StringType))
            case "rollback_to_snapshot" => Array(
              param("db", StringType), param("table", StringType),
              param("snapshot_id", LongType))
            case "create_tag" | "create_branch" | "drop_ref" => Array(
              param("db", StringType), param("table", StringType),
              param("name", StringType)) ++
              (if (procName == "drop_ref") Array.empty[ProcedureParameter]
               else Array(param("snapshot_id", LongType)))
            case "publish_wap" | "discard_wap" => Array(
              param("db", StringType), param("table", StringType),
              param("wap_id", StringType))
            case "rebase_branch" | "fast_forward" => Array(
              param("db", StringType), param("table", StringType),
              param("name", StringType))
            // field: source column path; transform: engine naming
            // (identity/year/month/day/hour/bucket[N]/truncate[W]);
            // name: '' = auto (Iceberg convention ts_day/id_bucket).
            // drop resolves by field NAME.
            case "add_partition_field" => Array(
              param("db", StringType), param("table", StringType),
              param("field", StringType), param("transform", StringType),
              param("name", StringType))
            case "drop_partition_field" => Array(
              param("db", StringType), param("table", StringType),
              param("name", StringType))
            // branch MoR mutations from SQL: the key/source rows come
            // from a registered view (CALL args are scalars); `keys`
            // is a comma-separated key-column list
            case "branch_delete" => Array(
              param("db", StringType), param("table", StringType),
              param("branch", StringType), param("keys_view", StringType))
            case "branch_upsert" => Array(
              param("db", StringType), param("table", StringType),
              param("branch", StringType), param("source_view", StringType),
              param("keys", StringType))
            // branch COPY-ON-WRITE mutations from SQL: `where` is a SQL
            // boolean expression; branch_update_cow sets ONE column per
            // call (set_expr is a SQL expression over the pre-update
            // row) — multi-column updates chain calls
            case "branch_delete_cow" => Array(
              param("db", StringType), param("table", StringType),
              param("branch", StringType), param("where", StringType))
            case "branch_update_cow" => Array(
              param("db", StringType), param("table", StringType),
              param("branch", StringType), param("set_col", StringType),
              param("set_expr", StringType), param("where", StringType))
            // Iceberg's create_changelog_view: register the
            // delete-marker changelog of (from, to] as a temp view.
            // mode: '' (raw), 'updates' (compute_updates pairing), or
            // 'net' (net_changes collapsing); identifier_cols: comma-
            // separated identity ('' = the table's identifier-fields)
            // materialized view: `name` is the MV's view name; the
            // defining `query` re-runs at each refresh into a hidden
            // backing lake table (__mat_<name>) that the registered
            // view fronts — reads are table-fast, staleness is bounded
            // by the refresh cadence
            case "create_mat_view" => Array(
              param("db", StringType), param("name", StringType),
              param("query", StringType))
            // mode: '' / 'full' = recompute; 'incremental' = delta
            // merge (self-maintainable aggregate shapes only —
            // recorded at create)
            case "refresh_mat_view" => Array(
              param("db", StringType), param("name", StringType),
              ProcedureParameter.in("mode", StringType)
                .defaultValue("''").build())
            case "create_changelog_view" => Array(
              param("db", StringType), param("table", StringType),
              param("from_snapshot", LongType),
              param("to_snapshot", LongType),
              param("view_name", StringType),
              ProcedureParameter.in("mode", StringType)
                .defaultValue("''").build(),
              ProcedureParameter.in("identifier_cols", StringType)
                .defaultValue("''").build(),
              // 'true' opts into computed row diffs for copy-on-write
              // overwrite snapshots (O(rewritten bytes) per such
              // snapshot); default keeps the loud refusal
              ProcedureParameter.in("include_cow", StringType)
                .defaultValue("''").build(),
              // 'true' opts into computed before/after diffs for
              // full-content replace snapshots (INSERT OVERWRITE /
              // RTAS) at O(replaced bytes); default keeps the refusal
              ProcedureParameter.in("include_replace", StringType)
                .defaultValue("''").build())
          }
          override def call(input: InternalRow): java.util.Iterator[Scan] = {
            // a SQL NULL argument arrives as a null UTF8String — name
            // the problem instead of NPE-ing in .toString
            def strArg(i: Int): String = {
              val v = input.getUTF8String(i)
              require(v != null,
                s"CALL $procName: argument '${parameters()(i).name()}' " +
                  "must not be NULL")
              v.toString
            }
            // '' and NULL both mean "unset" for optional name-ish args
            def strArgOrEmpty(i: Int): String =
              Option(input.getUTF8String(i)).map(_.toString).getOrElse("")
            // comma-separated list args (add_files paths, where_values)
            // support backslash-escaped commas, so a value containing a
            // literal ',' — legal in file paths and partition values —
            // can still be passed through SQL's single-string procedure
            // parameter: 'a\,b.parquet,c.parquet' → ["a,b.parquet",
            // "c.parquet"]. A bare split would mis-split it into
            // nonexistent paths with no way to register the file at all.
            def splitList(s: String): Seq[String] = {
              val out = scala.collection.mutable.ArrayBuffer(new StringBuilder)
              var i = 0
              while (i < s.length) {
                val c = s.charAt(i)
                if (c == '\\' && i + 1 < s.length && s.charAt(i + 1) == ',') {
                  out.last.append(','); i += 2
                } else if (c == ',') { out += new StringBuilder; i += 1 }
                else { out.last.append(c); i += 1 }
              }
              out.map(_.toString.trim).filter(_.nonEmpty).toSeq
            }
            val db = strArg(0)
            val tbl = strArg(1)
            // maintenance does not participate in SQL transactions: a
            // compaction/expiry buffered into an open BEGIN block would
            // publish (or vanish) with unrelated user writes, and the
            // mat-view procedures write non-transactional sidecars —
            // refuse by name instead of silently enlisting
            require(graft.lake.SqlTxn.active.isEmpty,
              s"CALL $procName does not participate in SQL " +
                "transactions — COMMIT or ROLLBACK first")
            // lazy: the mat-view procedures' second arg is a VIEW
            // name, not a lake table — an eager load would fail
            lazy val t = LakeTable.load(warehouse, db, tbl)
            val (schema, row) = procName match {
              case "build_blooms" =>
                // bloom backfill for files written before
                // write.bloom-columns was set (incl. add_files
                // registrations) — see LakeTable.buildBlooms
                val n = t.buildBlooms(
                  org.apache.spark.sql.SparkSession.active)
                (StructType(Seq(
                  StructField("files_backfilled", IntegerType,
                    nullable = false))),
                  Seq[Any](n))
              case "create_mat_view" =>
                val (matTable, rows) = MatViewDdl.create(
                  org.apache.spark.sql.SparkSession.active, warehouse,
                  catalogName, db, tbl, strArg(2))
                (StructType(Seq(
                  StructField("mat_table", StringType, nullable = false),
                  StructField("rows", LongType, nullable = false))),
                  Seq[Any](matTable, rows))
              case "refresh_mat_view" =>
                MatViewDdl.refresh(org.apache.spark.sql.SparkSession.active,
                    warehouse, db, tbl, strArgOrEmpty(2)) match {
                  case MatViewDdl.IncrementalRefresh(from, to) =>
                    (StructType(Seq(
                      StructField("from_snapshot", LongType, nullable = false),
                      StructField("to_snapshot", LongType, nullable = false))),
                      Seq[Any](from, to))
                  case MatViewDdl.FullRefresh(sid, rows) =>
                    (StructType(Seq(
                      StructField("snapshot_id", LongType, nullable = false),
                      StructField("rows", LongType, nullable = false))),
                      Seq[Any](sid, rows))
                }
              case "expire_snapshots" =>
                // materialized-view pin protection: never squash past
                // the oldest watermark/dim pin a registered MV still
                // replays from — expiring through one silently
                // downgrades every dependent MV to full O(source)
                // refreshes (the programmatic LakeTable API stays
                // uncapped for callers that mean it)
                // the pinned snapshot ITSELF must survive the squash:
                // keepAfter is inclusive (id <= keepAfter expires), and
                // a squash stamps max-of-expired timestamps — under
                // clock skew that differs from the pinned commit's own
                // stamp and fails the watermark-ts lineage check,
                // stranding the MV into full refreshes (the very
                // downgrade the cap exists to prevent) — so cap BELOW it
                val pinCap = MatViews
                  .pinnedSnapshots(warehouse, db, tbl)
                  .map(_._3).minOption.getOrElse(Long.MaxValue)
                val expired = t.expireSnapshots(
                  keepAfter = math.min(input.getLong(2),
                    if (pinCap == Long.MaxValue) pinCap else pinCap - 1))
                (StructType(Seq(
                  StructField("expired_snapshots", IntegerType, nullable = false),
                  StructField("snapshots_left", IntegerType, nullable = false))),
                  Seq[Any](expired, t.metadata.snapshots.size))
              case "expire_older_than" =>
                val pinCap = MatViews
                  .pinnedSnapshots(warehouse, db, tbl)
                  .map(_._3).minOption.getOrElse(Long.MaxValue)
                val expired = t.expireSnapshotsOlderThan(input.getLong(2),
                  cap = pinCap)
                (StructType(Seq(
                  StructField("expired_snapshots", IntegerType, nullable = false),
                  StructField("snapshots_left", IntegerType, nullable = false))),
                  Seq[Any](expired, t.metadata.snapshots.size))
              case "remove_orphan_files" =>
                val removed = t.removeOrphanFiles(
                  olderThanMillis = input.getLong(2))
                (StructType(Seq(
                  StructField("orphans_removed", IntegerType, nullable = false))),
                  Seq[Any](removed.size))
              case "analyze" =>
                val mode = if (input.isNullAt(2)) "" else strArg(2)
                require(mode.isEmpty || mode == "approx" || mode == "exact",
                  s"analyze mode must be ''|approx|exact, got '$mode'")
                val ts = t.analyze(org.apache.spark.sql.SparkSession.active,
                  exact = mode == "exact")
                (StructType(Seq(
                  StructField("snapshot_id", LongType, nullable = false),
                  StructField("row_count", LongType, nullable = false),
                  StructField("n_columns", IntegerType, nullable = false))),
                  Seq[Any](ts.snapshotId, ts.rowCount, ts.cols.size))
              case "compact" =>
                val snap = t.compact(org.apache.spark.sql.SparkSession.active)
                (StructType(Seq(
                  StructField("snapshot_id", LongType, nullable = false),
                  StructField("rewritten_rows", LongType, nullable = false))),
                  Seq[Any](snap.id, snap.files.map(_.rows).sum))
              case "rewrite_data_files" =>
                // '' and NULL both mean "unset" for the where args; a
                // NULL threshold must NOT silently read as getLong's 0
                // (= rewrite everything) — name it instead
                val field = strArgOrEmpty(2)
                val values = splitList(strArgOrEmpty(3)).toSet
                require(field.isEmpty || values.nonEmpty,
                  s"CALL rewrite_data_files: where_field '$field' needs " +
                    "a non-empty where_values list")
                require(!input.isNullAt(4),
                  "CALL rewrite_data_files: smaller_than_bytes must not " +
                    "be NULL (pass 0 to rewrite all in-scope files)")
                val threshold = input.getLong(4) match {
                  case n if n <= 0 => Long.MaxValue
                  case n => n
                }
                val filter =
                  if (field.isEmpty) Map.empty[String, Set[String]]
                  else Map(field -> values)
                val before = LakeTable.liveFiles(t.metadata.snapshots).size
                val snap = t.compactScoped(
                  org.apache.spark.sql.SparkSession.active, filter, threshold)
                val rewrittenIn = snap.map(_.removedPaths.size).getOrElse(0)
                (StructType(Seq(
                  StructField("snapshot_id", LongType, nullable = false),
                  StructField("rewritten_files", IntegerType, nullable = false),
                  StructField("added_files", IntegerType, nullable = false),
                  StructField("carried_files", IntegerType, nullable = false))),
                  Seq[Any](snap.map(_.id).getOrElse(-1L), rewrittenIn,
                    snap.map(_.files.size).getOrElse(0), before - rewrittenIn))
              case "snapshot" =>
                val (clone, _) = LakeTable.snapshotTable(warehouse,
                  db, tbl, strArg(2), strArg(3))
                (StructType(Seq(
                  StructField("cloned_snapshots", IntegerType,
                    nullable = false),
                  StructField("current_snapshot_id", LongType,
                    nullable = false))),
                  Seq[Any](clone.metadata.snapshots.size,
                    clone.metadata.snapshots.map(_.id)
                      .foldLeft(0L)(math.max)))
              case "add_files" =>
                val paths = splitList(strArg(2))
                val base = Option(strArgOrEmpty(3)).filter(_.nonEmpty)
                val snap = t.addFiles(
                  org.apache.spark.sql.SparkSession.active, paths, base)
                (StructType(Seq(
                  StructField("snapshot_id", LongType, nullable = false),
                  StructField("added_files", IntegerType, nullable = false),
                  StructField("added_rows", LongType, nullable = false))),
                  Seq[Any](snap.id, snap.files.size,
                    snap.files.map(_.rows).sum))
              case "rewrite_position_delete_files" =>
                val before = LakeTable.liveDeletes(t.metadata.snapshots)
                  .values.flatMap(_.paths).toSeq.distinct.size
                val snap = t.rewritePositionDeleteFiles()
                (StructType(Seq(
                  StructField("merged_delete_files", IntegerType,
                    nullable = false),
                  StructField("delete_files_now", IntegerType,
                    nullable = false))),
                  Seq[Any](if (snap.isDefined) before else 0,
                    snap.map(_.deletePaths.size).getOrElse(before)))
              case "rewrite_manifests" =>
                // manifests the forward replay had to consult before
                // the rewrite — afterwards it consults exactly one
                val before = LakeTable.replaySuffix(t.metadata.snapshots)
                  ._1.count(_.files.nonEmpty)
                val snap = t.rewriteManifests()
                (StructType(Seq(
                  StructField("snapshot_id", LongType, nullable = false),
                  StructField("live_files", IntegerType, nullable = false),
                  StructField("manifests_merged", IntegerType,
                    nullable = false))),
                  Seq[Any](snap.id, snap.files.size, before))
              case "rollback_to_snapshot" =>
                val removed = t.rollbackTo(input.getLong(2))
                (StructType(Seq(
                  StructField("snapshots_removed", IntegerType, nullable = false),
                  StructField("current_snapshot_id", LongType, nullable = false))),
                  Seq[Any](removed, t.metadata.snapshots.map(_.id).max))
              case "create_tag" | "create_branch" =>
                val kind = if (procName == "create_tag") "tag" else "branch"
                t.createRef(strArg(2),
                  input.getLong(3), kind)
                (StructType(Seq(
                  StructField("ref", StringType, nullable = false),
                  StructField("snapshot_id", LongType, nullable = false))),
                  Seq[Any](strArg(2), input.getLong(3)))
              case "drop_ref" =>
                t.dropRef(strArg(2))
                (StructType(Seq(
                  StructField("dropped", StringType, nullable = false))),
                  Seq[Any](strArg(2)))
              case "publish_wap" =>
                val snap = t.publishStaged(strArg(2))
                (StructType(Seq(
                  StructField("published_snapshot_id", LongType,
                    nullable = false),
                  StructField("rows", LongType, nullable = false))),
                  Seq[Any](snap.id, snap.files.map(_.rows).sum))
              case "discard_wap" =>
                val orphaned = t.discardStaged(
                  strArg(2))
                (StructType(Seq(
                  StructField("files_orphaned", IntegerType,
                    nullable = false))),
                  Seq[Any](orphaned))
              case "rebase_branch" =>
                val newBase = t.rebaseBranch(
                  strArg(2))
                (StructType(Seq(
                  StructField("ref", StringType, nullable = false),
                  StructField("base_snapshot_id", LongType,
                    nullable = false))),
                  Seq[Any](strArg(2), newBase))
              case "fast_forward" =>
                // publish the branch onto main (CALL form of the
                // branch lifecycle's final verb)
                val published = t.fastForward(
                  strArg(2))
                (StructType(Seq(
                  StructField("ref", StringType, nullable = false),
                  StructField("published_snapshots", IntegerType,
                    nullable = false),
                  StructField("head_snapshot_id", LongType,
                    nullable = false))),
                  Seq[Any](strArg(2),
                    published.size,
                    t.metadata.snapshots.map(_.id).foldLeft(0L)(math.max)))
              case "add_partition_field" =>
                val nameArg = strArgOrEmpty(4)
                t.addPartitionField(strArg(2),
                  strArg(3),
                  Option(nameArg).filter(_.nonEmpty))
                (StructType(Seq(
                  StructField("spec_id", IntegerType, nullable = false),
                  StructField("fields", StringType, nullable = false))),
                  Seq[Any](t.metadata.currentSpecId,
                    t.metadata.currentSpec.fields.map(f =>
                      s"${f.transform}:${f.name}").mkString(", ")))
              case "drop_partition_field" =>
                t.dropPartitionField(strArg(2))
                (StructType(Seq(
                  StructField("spec_id", IntegerType, nullable = false),
                  StructField("fields", StringType, nullable = false))),
                  Seq[Any](t.metadata.currentSpecId,
                    t.metadata.currentSpec.fields.map(f =>
                      s"${f.transform}:${f.name}").mkString(", ")))
              case "branch_delete" =>
                val spark = org.apache.spark.sql.SparkSession.active
                val snap = t.deleteFromBranchMoR(spark,
                  strArg(2),
                  spark.table(strArg(3)))
                (StructType(Seq(
                  StructField("staged_snapshot_id", LongType,
                    nullable = false))),
                  Seq[Any](snap.id))
              case "branch_upsert" =>
                val spark = org.apache.spark.sql.SparkSession.active
                val snap = t.upsertToBranchMoR(spark,
                  strArg(2),
                  spark.table(strArg(3)),
                  strArg(4).split(",").map(_.trim)
                    .filter(_.nonEmpty).toSeq)
                (StructType(Seq(
                  StructField("staged_snapshot_id", LongType,
                    nullable = false),
                  StructField("rows", LongType, nullable = false))),
                  Seq[Any](snap.id, snap.files.map(_.rows).sum))
              case "branch_delete_cow" =>
                val spark = org.apache.spark.sql.SparkSession.active
                val snap = t.deleteFromBranchCoW(spark, strArg(2),
                  org.apache.spark.sql.functions.expr(strArg(3)))
                (StructType(Seq(
                  StructField("staged_snapshot_id", LongType,
                    nullable = false),
                  StructField("rewritten_files", IntegerType,
                    nullable = false))),
                  Seq[Any](snap.map(_.id).getOrElse(-1L),
                    snap.map(_.removedPaths.size).getOrElse(0)))
              case "branch_update_cow" =>
                val spark = org.apache.spark.sql.SparkSession.active
                val snap = t.updateBranchCoW(spark, strArg(2),
                  Map(strArg(3) ->
                    org.apache.spark.sql.functions.expr(strArg(4))),
                  org.apache.spark.sql.functions.expr(strArg(5)))
                (StructType(Seq(
                  StructField("staged_snapshot_id", LongType,
                    nullable = false),
                  StructField("rewritten_files", IntegerType,
                    nullable = false))),
                  Seq[Any](snap.map(_.id).getOrElse(-1L),
                    snap.map(_.removedPaths.size).getOrElse(0)))
              case "create_changelog_view" =>
                val spark = org.apache.spark.sql.SparkSession.active
                val view = strArg(4)
                val mode = strArgOrEmpty(5)
                val idCols = strArgOrEmpty(6)
                  .split(",").map(_.trim).filter(_.nonEmpty).toSeq
                val includeCow =
                  strArgOrEmpty(7).equalsIgnoreCase("true")
                val includeReplace =
                  strArgOrEmpty(8).equalsIgnoreCase("true")
                val (from, to) = (input.getLong(2), input.getLong(3))
                val raw = t.changelogBetween(spark, from, to, includeCow,
                  includeReplace)
                val log = mode match {
                  case "" | "raw" => raw
                  case "updates" => t.changelogWithUpdates(raw, idCols)
                  case "net" => t.changelogNet(raw, idCols)
                  case other => throw new IllegalArgumentException(
                    s"create_changelog_view: unknown mode '$other' " +
                      "(use '', 'updates' or 'net')")
                }
                log.createOrReplaceTempView(view)
                (StructType(Seq(
                  StructField("view", StringType, nullable = false))),
                  Seq[Any](view))
            }
            // procedure output must be a LocalScan (InvokeProcedures
            // turns it into a LocalRelation)
            val local = new org.apache.spark.sql.connector.read.LocalScan {
              override def readSchema(): StructType = schema
              override def rows(): Array[InternalRow] = Array(
                new GenericInternalRow(row.map {
                  case s: String => UTF8String.fromString(s): Any
                  case x => x
                }.toArray))
            }
            java.util.List.of[Scan](local).iterator()
          }
        }
    }
}

private[sources] case class MetaRowsPartition(rows: Array[Array[Any]])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] object MetaReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[MetaRowsPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(
        rows(i).map {
          case s: String => UTF8String.fromString(s): Any
          case x => x
        })
      override def close(): Unit = ()
    }
}
