package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{DataGen, OrdersFixtures}
import graft.lake.{Engine, LakeTable}
import graft.schema.FieldIds

/** Golden end-to-end evolution test (SURVEY.md §5.2.2): replay orders
  * v1 → create+append → replay v2 → evolve+append → unified read with
  * the documented invariants (FIXTURES.md §1).
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshWarehouse(): String =
    Files.createTempDirectory("graft-lake-test").toString

  test("golden: v1 create+append, v2 evolve+append, unified read") {
    val wh = freshWarehouse()

    val r1 = Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
    assert(!r1.hasError && r1.changeType == "CREATE TABLE")
    assert(Files.exists(java.nio.file.Paths.get(r1.outputLocation)))

    val t1 = LakeTable.load(wh, "customer_order", "orders")
    assert(t1.currentSchema.fieldNames.toSeq ==
      Seq("order_time", "customer_name", "address", "order_items"))
    t1.append(DataGen.toDf(spark, DataGen.ordersV1(25, seed = 11L), t1.currentSchema))

    val r2 = Engine.processTableDefJson(wh, OrdersFixtures.ordersV2Json)
    assert(!r2.hasError && r2.changeType == "ALTER TABLE")
    assert(r2.messageList.exists(_.startsWith("Added column order_id")))
    assert(r2.messageList.exists(_.startsWith("Added column address.address_line")))
    assert(r2.messageList.exists(_.startsWith("Added column address.zip")))
    assert(r2.messageList.exists(_.startsWith("Added column order_items.element.item_count")))
    assert(r2.messageList.exists(_.startsWith("Updated partition spec")))

    val t2 = LakeTable.load(wh, "customer_order", "orders")
    // v2 column order honored; field IDs of kept columns preserved
    assert(t2.currentSchema.fieldNames.toSeq ==
      Seq("order_id", "order_time", "customer_name", "address", "order_items"))
    val v1Ids = FieldIds.flatten(t1.currentSchema)
      .map { case (p, f) => p -> FieldIds.idOf(f) }.toMap
    val v2Ids = FieldIds.flatten(t2.currentSchema)
      .map { case (p, f) => p -> FieldIds.idOf(f) }.toMap
    assert(v2Ids("order_time") == v1Ids("order_time"))
    assert(v2Ids("address.city") == v1Ids("address.city"))
    assert(v2Ids("order_items.element.price") == v1Ids("order_items.element.price"))
    assert(!v1Ids.values.toSet.contains(v2Ids("order_id")))

    t2.append(DataGen.toDf(spark, DataGen.ordersV2(15, seed = 12L), t2.currentSchema))

    val unified = t2.read(spark).cache()
    assert(unified.count() == 40)
    assert(unified.columns.toSeq ==
      Seq("order_id", "order_time", "customer_name", "address", "order_items"))
    // v1-written rows: null order_id, null nested adds — incl. inside
    // the array elements
    val v1Rows = unified.filter(col("order_id").isNull)
    assert(v1Rows.count() == 25)
    assert(v1Rows.filter(col("address.zip").isNotNull).count() == 0)
    assert(v1Rows.filter(col("address.city").isNull).count() == 0)
    assert(v1Rows.select(explode(col("order_items")).as("it"))
      .filter(col("it.item_count").isNotNull).count() == 0)
    assert(v1Rows.select(explode(col("order_items")).as("it"))
      .filter(col("it.price").isNull).count() == 0)
    val v2Rows = unified.filter(col("order_id").isNotNull)
    assert(v2Rows.count() == 15)
    assert(v2Rows.select(explode(col("order_items")).as("it"))
      .filter(col("it.item_count").isNull).count() == 0)

    // partition layout: v1 snapshot under year dirs, v2 under month dirs
    val files = t2.metadata.allFiles
    assert(files.exists(_.partitionValues.keySet == Set("order_time_year")))
    assert(files.exists(_.partitionValues.keySet == Set("order_time_month")))
    unified.unpersist()
  }

  test("golden: map<string,struct> value evolution — add + retype across appends") {
    val wh = freshWarehouse()
    def defJson(valueCols: String) =
      s"""{"database_name":"md","table_name":"mv","columns":[
         |{"column_name":"id","data_type":"long"},
         |{"column_name":"attrs","data_type":"map","map_def":{
         |  "key":{"column_name":"k","data_type":"string"},
         |  "value":{"column_name":"v","data_type":"struct","struct_def":[
         |    $valueCols]}}}],
         |"partitions":[]}""".stripMargin
    val r1 = Engine.processTableDefJson(wh, defJson(
      """{"column_name":"score","data_type":"int"}"""))
    assert(!r1.hasError)
    val t1 = LakeTable.load(wh, "md", "mv")
    t1.append(spark.range(1, 3).select(col("id"),
      map(lit("a"), struct((col("id") * 10).cast("int").as("score")))
        .as("attrs")))

    // evolve INSIDE the map value: score int->long, add note string
    val r2 = Engine.processTableDefJson(wh, defJson(
      """{"column_name":"score","data_type":"long"},
        |{"column_name":"note","data_type":"string"}""".stripMargin))
    assert(!r2.hasError, r2.messageList.mkString("; "))
    assert(r2.messageList.exists(_.startsWith("Added column attrs.value.note")),
      r2.messageList.mkString("; "))
    assert(r2.messageList.exists(m =>
      m.startsWith("Updated column attrs.value.score") && m.contains("int -> bigint")),
      r2.messageList.mkString("; "))

    val t2 = LakeTable.load(wh, "md", "mv")
    // field ID inside the map value survives the evolution
    def ids(s: org.apache.spark.sql.types.StructType) = FieldIds.flatten(s)
      .map { case (p, f) => p -> FieldIds.idOf(f) }.toMap
    assert(ids(t2.currentSchema)("attrs.value.score") ==
      ids(t1.currentSchema)("attrs.value.score"))

    t2.append(spark.range(3, 5).select(col("id"),
      map(lit("a"), struct((col("id") * 10).as("score"),
        concat(lit("n"), col("id")).as("note"))).as("attrs")))

    // unified read: v1 rows surface score as LONG with null note
    val u = t2.read(spark)
      .select(col("id"), explode(col("attrs")).as(Seq("k", "v")))
      .select(col("id"), col("v.score").as("score"), col("v.note").as("note"))
    assert(u.schema("score").dataType == org.apache.spark.sql.types.LongType)
    val rows = u.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(rows == Seq((1L, 10L, null), (2L, 20L, null),
      (3L, 30L, "n3"), (4L, 40L, "n4")))
  }

  test("time travel: asOf snapshot reads old data under the old schema") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
    val t1 = LakeTable.load(wh, "customer_order", "orders")
    val snap1 = t1.append(DataGen.toDf(spark, DataGen.ordersV1(10, seed = 21L), t1.currentSchema))
    Engine.processTableDefJson(wh, OrdersFixtures.ordersV2Json)
    val t2 = LakeTable.load(wh, "customer_order", "orders")
    t2.append(DataGen.toDf(spark, DataGen.ordersV2(5, seed = 22L), t2.currentSchema))

    val asOf = t2.read(spark, asOfSnapshot = Some(snap1.id))
    assert(asOf.count() == 10)
    // snapshot 1 committed under the v1 schema: 4 columns, no order_id
    assert(asOf.columns.toSeq ==
      Seq("order_time", "customer_name", "address", "order_items"))
    assert(t2.read(spark).count() == 15)
    // footer-derived row counts recorded per file
    assert(t2.metadata.allFiles.forall(_.rows > 0))
    assert(t2.metadata.snapshots.find(_.id == snap1.id).get.files.map(_.rows).sum == 10)
  }

  test("incremental scan returns only rows appended in the snapshot range") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"inc","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    val t = LakeTable.load(wh, "d", "inc")
    val s1 = t.append(Seq(1L, 2L).toDF("k"))
    val s2 = t.append(Seq(3L).toDF("k"))
    t.compact(spark) // rewrite snapshot — must NOT appear in changes
    val s4 = t.append(Seq(4L).toDF("k"))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    assert(keys(t.changesBetween(spark, 0L, s2.id)) == Seq(1L, 2L, 3L))
    assert(keys(t.changesBetween(spark, s1.id, s4.id)) == Seq(3L, 4L))
    assert(keys(t.changesBetween(spark, s2.id, s4.id)) == Seq(4L))
    assert(t.changesBetween(spark, s4.id, s4.id).count() == 0)
    assert(keys(t.read(spark)) == Seq(1L, 2L, 3L, 4L))
  }

  test("stale-handle appends retry onto the new head; row-level ops refuse") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"cc","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    val h1 = LakeTable.load(wh, "d", "cc")
    val h2 = LakeTable.load(wh, "d", "cc")
    h1.append(Seq(1L).toDF("k"))
    // h2 loaded before h1's commit — an append is read-independent, so
    // it reloads and lands as the NEXT snapshot instead of failing
    // (Iceberg's optimistic retry); neither row is lost
    h2.append(Seq(2L).toDF("k"))
    val ids = LakeTable.load(wh, "d", "cc").metadata.snapshots.map(_.id)
    assert(ids == Seq(1L, 2L), "retried append claims the next id")
    assert(h2.read(spark).count() == 2)
    // a row-level op's rewrite set was computed against the stale
    // snapshot — it must surface the conflict, not retry
    val h3 = LakeTable.load(wh, "d", "cc")
    val h4 = LakeTable.load(wh, "d", "cc")
    h3.append(Seq(3L).toDF("k"))
    intercept[java.util.ConcurrentModificationException] {
      h4.delete(spark, org.apache.spark.sql.functions.col("k") === 1L)
    }
  }

  test("stats-based file skipping: min/max prunes the scan list") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"st","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"name","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "st")
    import spark.implicits._
    // three snapshots with disjoint key ranges -> three files
    t.append(Seq((1L, "a"), (10L, "b")).toDF("k", "name").repartition(1))
    t.append(Seq((100L, "c"), (110L, "d")).toDF("k", "name").repartition(1))
    t.append(Seq((1000L, "e")).toDF("k", "name").repartition(1))
    val all = t.metadata.allFiles
    assert(all.size == 3 && all.forall(_.stats.nonEmpty))

    // numeric range filter: only the middle file can match k in [50, 500]
    val mid = graft.lake.RangeFilter("k",
      loNum = Some(BigDecimal(50)), hiNum = Some(BigDecimal(500)))
    val kept = all.filter(f => graft.lake.FileStats.mightMatch(
      f.stats, t.currentSchema, Seq(mid)))
    assert(kept.size == 1)
    val out = t.read(spark, statsFilters = Seq(mid))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 110L))

    // string stats prune lexically
    val sFilter = graft.lake.RangeFilter("name",
      loStr = Some("d"), hiStr = Some("z"))
    assert(t.read(spark, statsFilters = Seq(sFilter))
      .collect().map(_.getString(1)).sorted.toSeq == Seq("c", "d", "e"))

    // stats survive a rename: field-ID keyed, filter on the NEW name
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"st","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"label","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "st")
    // rename = drop+add in the name-based diff => new field id, so old
    // string stats must NOT prune on the new column (conservative);
    // k is untouched and still prunes
    assert(t2.read(spark, statsFilters = Seq(mid)).count() == 2)
  }

  test("compaction: rewrite snapshot replaces prior files, data intact") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
    val t1 = LakeTable.load(wh, "customer_order", "orders")
    t1.append(DataGen.toDf(spark, DataGen.ordersV1(8, seed = 31L), t1.currentSchema))
    Engine.processTableDefJson(wh, OrdersFixtures.ordersV2Json)
    val t2 = LakeTable.load(wh, "customer_order", "orders")
    t2.append(DataGen.toDf(spark, DataGen.ordersV2(6, seed = 32L), t2.currentSchema))

    val before = t2.read(spark).orderBy(col("customer_name"), col("order_time"))
      .drop("order_items").collect().toSeq
    val filesBefore = t2.metadata.allFiles.size
    val snap = t2.compact(spark)
    assert(snap.operation == "rewrite")
    // live set = only the rewrite snapshot's files, all on current schema
    val after = t2.read(spark).orderBy(col("customer_name"), col("order_time"))
      .drop("order_items").collect().toSeq
    assert(after == before)
    assert(t2.read(spark).count() == 14)
    val live = t2.metadata.snapshots.filter(_.id >= snap.id).flatMap(_.files)
    assert(live.forall(_.schemaId == t2.metadata.currentSchemaId))
    assert(live.forall(_.partitionValues.keySet == Set("order_time_month")))
    // historical snapshots still there for time travel
    assert(t2.metadata.allFiles.size > live.size && filesBefore > 0)
    assert(t2.read(spark, asOfSnapshot = Some(1L)).count() == 8)
  }

  test("a required nested field added by ALTER reads null on older " +
      "files, in a distributed columnar read as in a driver-decoded one") {
    // order_items.element.item_count: added in v2 and declared required,
    // absent from the v1 file; collecting the whole array column must
    // not turn its nulls into 0
    def build(bound: Option[Long]): Seq[String] = {
      val wh = freshWarehouse()
      Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
      val t1 = LakeTable.load(wh, "customer_order", "orders")
      LocalScanDiff.set(t1, bound)
      t1.append(DataGen.toDf(spark, DataGen.ordersV1(6, seed = 41L), t1.currentSchema))
      Engine.processTableDefJson(wh, OrdersFixtures.ordersV2Json)
      val t2 = LakeTable.load(wh, "customer_order", "orders")
      t2.append(DataGen.toDf(spark, DataGen.ordersV2(4, seed = 42L), t2.currentSchema))
      val rd = spark.read.format("graft-lake").option("warehouse", wh)
        .option("database", "customer_order").option("table", "orders").load()
      val rows = rd.select(col("order_id"), col("order_items")).collect()
      val old = rows.filter(_.isNullAt(0)).flatMap(_.getSeq[org.apache.spark.sql.Row](1))
      assert(old.nonEmpty && old.forall(_.isNullAt(1)),
        s"${LocalScanDiff.label(bound)}: v1 items' item_count: " +
          old.map(_.get(1)).mkString(","))
      rows.map(_.toString).toSeq.sorted
    }
    assert(build(Some(0L)) == build(None))
  }

  test("metadata pruning skips non-matching files across specs") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
    val t = LakeTable.load(wh, "customer_order", "orders")
    t.append(DataGen.toDf(spark, DataGen.ordersV1(30, seed = 5L), t.currentSchema))

    val all = t.read(spark)
    val y2022 = t.read(spark, prune = Map("order_time_year" -> Set("2022")))
    val expected = all.filter(year(col("order_time")) === 2022).count()
    assert(y2022.count() == expected)
    assert(expected > 0, "seeded data should hit 2022")
    // pruning actually cut the file list
    val prunedFiles = t.metadata.allFiles
      .count(_.partitionValues.get("order_time_year").contains("2022"))
    assert(prunedFiles < t.metadata.allFiles.size)
  }

  test("type promotion int->long is cast on read of old files") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"p","columns":[
        |{"column_name":"k","data_type":"int"},
        |{"column_name":"v","data_type":"float"}],"partitions":[]}""".stripMargin)
    val t1 = LakeTable.load(wh, "d", "p")
    import spark.implicits._
    t1.append(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "v"))
    val resp = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"p","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"double"}],"partitions":[]}""".stripMargin)
    assert(!resp.hasError)
    val t2 = LakeTable.load(wh, "d", "p")
    t2.append(Seq((3L, 3.5d)).toDF("k", "v"))
    val out = t2.read(spark)
    assert(out.schema("k").dataType.typeName == "long")
    assert(out.schema("v").dataType.typeName == "double")
    assert(out.select(sum($"k")).head().getLong(0) == 6L)
  }

  test("disallowed change (long->int) reports error, keeps old schema") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"q","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    val resp = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"q","columns":[
        |{"column_name":"k","data_type":"int"}],"partitions":[]}""".stripMargin)
    assert(resp.hasError)
    assert(resp.messageList.exists(_.contains("Disallowed change")))
    val t = LakeTable.load(wh, "d", "q")
    assert(t.currentSchema("k").dataType.typeName == "long")
  }

  test("soak: random evolution sequences keep every snapshot readable") {
    // SURVEY §5.2.3: random appends across random evolution sequences —
    // read never throws, column order always matches the latest schema.
    val types = Seq("int", "long", "float", "double", "string")
    val names = Seq("c1", "c2", "c3", "c4", "c5", "c6")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val wh = freshWarehouse()
      // promotion lattice per column so random type picks stay legal
      def rank(t: String) = types.indexOf(t)
      var liveTypes = Map(names.head -> "int")
      def defJson(cols: Map[String, String]): String = {
        val colJson = cols.map { case (n, t) =>
          s"""{"column_name":"$n","data_type":"$t"}"""
        }.mkString(",")
        s"""{"database_name":"d","table_name":"soak$seed","columns":[$colJson],"partitions":[]}"""
      }
      assert(!Engine.processTableDefJson(wh, defJson(liveTypes)).hasError)
      var expectedRows = 0L
      for (step <- 1 to 5) {
        // random legal mutation: add a column, drop one (keep >=1), or
        // promote int->long / float->double
        val choice = rnd.nextInt(3)
        if (choice == 0 && liveTypes.size < names.size) {
          val fresh = names.find(!liveTypes.contains(_)).get
          liveTypes += fresh -> types(rnd.nextInt(types.size))
        } else if (choice == 1 && liveTypes.size > 1) {
          liveTypes -= liveTypes.keys.toSeq(rnd.nextInt(liveTypes.size))
        } else {
          val (n, t) = liveTypes.toSeq(rnd.nextInt(liveTypes.size))
          val promoted = t match {
            case "int" => "long"
            case "float" => "double"
            case other => other
          }
          liveTypes += n -> promoted
        }
        val resp = Engine.processTableDefJson(wh, defJson(liveTypes))
        assert(!resp.hasError, s"seed=$seed step=$step: ${resp.messageList}")
        val t = LakeTable.load(wh, "d", s"soak$seed")
        // append a few rows valid under the current schema
        import org.apache.spark.sql.Row
        val rows = (1 to 3).map { i =>
          Row.fromSeq(t.currentSchema.fields.toSeq.map(_.dataType.typeName match {
            case "integer" => i
            case "long" => i.toLong
            case "float" => i.toFloat
            case "double" => i.toDouble
            case _ => s"v$i"
          }))
        }
        t.append(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          graft.lake.Reconcile.clean(t.currentSchema)
            .asInstanceOf[org.apache.spark.sql.types.StructType]))
        expectedRows += 3
        val out = t.read(spark)
        assert(out.columns.toSeq == t.currentSchema.fieldNames.toSeq,
          s"seed=$seed step=$step")
        assert(out.count() == expectedRows, s"seed=$seed step=$step")
      }
    }
  }

  test("drop + reorder: old files remain readable, dropped data hidden") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"r","columns":[
        |{"column_name":"a","data_type":"int"},
        |{"column_name":"b","data_type":"string"},
        |{"column_name":"c","data_type":"float"}],"partitions":[]}""".stripMargin)
    val t1 = LakeTable.load(wh, "d", "r")
    import spark.implicits._
    t1.append(Seq((1, "x", 1.0f), (2, "y", 2.0f)).toDF("a", "b", "c"))
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"r","columns":[
        |{"column_name":"c","data_type":"float"},
        |{"column_name":"a","data_type":"int"}],"partitions":[]}""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "r")
    val out = t2.read(spark)
    assert(out.columns.toSeq == Seq("c", "a"))
    assert(out.orderBy("a").collect().map(r => (r.getFloat(0), r.getInt(1))).toSeq ==
      Seq((1.0f, 1), (2.0f, 2)))
  }

  test("partition values with '+', '%' and ':' survive the dir round-trip") {
    // Spark writes Hive-escaped partition dirs: '%'/'：' become %XX but
    // '+' stays literal — URLDecoder would corrupt 'c++' to 'c  ' and
    // make prune() silently skip matching files
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"pe","columns":[
        |{"column_name":"tag","data_type":"string"},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[{"column":"tag","transform":"identity","name":"tag"}]}"""
        .stripMargin)
    import spark.implicits._
    val t = LakeTable.load(wh, "d", "pe")
    val rows = Seq(("c++", 1L), ("100%", 2L), ("+01:00", 3L), ("plain", 4L))
    t.append(rows.toDF("tag", "v"))

    val recorded = t.metadata.allFiles.flatMap(_.partitionValues.get("tag")).toSet
    assert(recorded == rows.map(_._1).toSet, s"metadata recorded $recorded")

    for ((tag, v) <- rows) {
      val got = t.read(spark, prune = Map("tag" -> Set(tag)))
        .select("v").as[Long].collect().toSeq
      assert(got == Seq(v), s"prune on '$tag' returned $got")
    }
  }

  test("contended appends from parallel handles all land exactly once") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"mw","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[],
        |"properties":{"commit.retry.num-retries":"50"}}""".stripMargin)
    import spark.implicits._
    // each worker plans and writes its frames in-thread — realistic
    // multi-writer shape: Spark's driver-side planning runs under the
    // same contention as the metadata commits being tested
    val writers = 4; val perWriter = 3
    val rows = (0 until writers).map { w =>
      (0 until perWriter).map(i => w * perWriter + i.toLong)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = rows.map { ks =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val h = LakeTable.load(wh, "d", "mw")
            ks.foreach(k => h.append(Seq(k).toDF("k")))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val t = LakeTable.load(wh, "d", "mw")
    // every append landed exactly once, each as its own snapshot with
    // a distinct contiguous id — no lost updates, no clobbered commits
    assert(t.metadata.snapshots.map(_.id).sorted ==
      (1L to (writers * perWriter)).toSeq)
    assert(t.read(spark).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until (writers * perWriter)).toSeq)
  }

  test("contended blind MoR writes retry like appends and land " +
      "exactly once") {
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"mwm","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],"partitions":[],
        |"properties":{"commit.retry.num-retries":"50"}}""".stripMargin)
    import spark.implicits._
    // 4 writers over DISJOINT key spaces, each: append 3 keys, blind
    // upsert one, eq-delete another — blind writes are
    // read-independent, so every conflict retries and the final state
    // is the union of per-writer outcomes
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val base = w * 10L
            val h = LakeTable.load(wh, "d", "mwm")
            h.append(Seq((base, "a"), (base + 1, "a"), (base + 2, "a"))
              .toDF("k", "v"))
            h.upsertMoR(spark,
              Seq((base + 1, "u")).toDF("k", "v"), Seq("k"))
            h.deleteByKeysMoR(spark, Seq(base + 2).toDF("k"))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val t = LakeTable.load(wh, "d", "mwm")
    assert(t.metadata.snapshots.map(_.id).sorted ==
      (1L to (writers * 3)).toSeq,
      "all 12 commits land under contiguous ids")
    val got = t.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (0 until writers).flatMap { w =>
      Seq(w * 10L -> "a", w * 10L + 1 -> "u")
    }.toMap
    assert(got == want, "per-writer last-write-wins state must union")
    // stale-handle MoR verbs retry too (mirrors the append case)
    val h1 = LakeTable.load(wh, "d", "mwm")
    val h2 = LakeTable.load(wh, "d", "mwm")
    h1.append(Seq((100L, "x")).toDF("k", "v"))
    h2.deleteByKeysMoR(spark, Seq(100L).toDF("k")) // stale: retries
    assert(LakeTable.load(wh, "d", "mwm").read(spark)
      .filter(org.apache.spark.sql.functions.col("k") === 100L).count() == 0)
  }

  test("racing writer that claimed the next version is refused (CREATE_NEW)") {
    // the hint check alone is check-then-act: a racer can write
    // v{N+1}.json between our check and our write — CREATE_NEW on the
    // metadata file makes version claiming atomic
    val wh = freshWarehouse()
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"race","columns":[
        |{"column_name":"k","data_type":"long"}],"partitions":[]}""".stripMargin)
    import spark.implicits._
    val t = LakeTable.load(wh, "d", "race")
    // simulate the racer: v2.json exists but the pointer still says v1
    val v2 = java.nio.file.Paths.get(wh, "d", "race", "metadata", "v2.json")
    Files.writeString(v2, "{}")
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq(1L).toDF("k"))
    }
    // the racer's claimed file was not clobbered
    assert(Files.readString(v2) == "{}")
  }
}
