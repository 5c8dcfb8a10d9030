package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** DSv2 "graft-lake" connector: batch reads over the live file set,
  * streaming reads with snapshot-id offsets (one micro-batch per
  * committed snapshot range), startSnapshot, schema evolution
  * mid-stream (field-ID reconciliation to the stream-start schema),
  * and append-only CDC semantics (overwrite snapshots skipped).
  */
class LakeStreamReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-dsv2-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"ts","data_type":"timestamp"}],
        |"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def df(data: Seq[(Long, String, java.sql.Timestamp)]): DataFrame = {
    import SparkTestSession.spark.implicits._
    data.toDF("id", "v", "ts")
  }

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  private def lakeReader(wh: String) =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")

  private def lakeStream(wh: String) =
    spark.readStream.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")

  test("batch read returns the live set with correct values") {
    val (wh, t) = mkTable("batch")
    t.append(df(Seq((1L, "a", ts(10)), (2L, "b", ts(20)))))
    t.append(df(Seq((3L, "c", ts(30)))))
    t.delete(spark, col("id") === 2L)
    // "timestamp" in a table def is TIMESTAMP_NTZ → LocalDateTime rows
    val got = lakeReader(wh).load()
      .select(col("id"), col("v"), unix_timestamp(col("ts")).as("secs"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (3L, "c", 30L)))
  }

  test("streaming read: snapshot offsets, incremental batches, evolution") {
    val (wh, t) = mkTable("stream")
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))

    val q1 = lakeStream(wh).load()
      .writeStream.format("memory").queryName("lake_sink")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.sql("SELECT id FROM lake_sink").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))

    // more appends + a delete (overwrite snapshot must NOT replay rows;
    // streaming past it requires the explicit skipDeleteSnapshots opt-in)
    t.append(df(Seq((3L, "c", ts(3)))))
    t.delete(spark, col("id") === 1L)
    t.append(df(Seq((4L, "d", ts(4)))))

    // resume from snapshot 1 (already-seen data excluded by offset)
    val q2 = lakeStream(wh).option("startSnapshot", "1")
      .option("skipDeleteSnapshots", "true").load()
      .writeStream.format("memory").queryName("lake_sink2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.sql("SELECT id FROM lake_sink2").collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L))
  }

  test("schema evolution: stream-start schema sees promoted/renamed fields") {
    val wh = Files.createTempDirectory("graft-dsv2-evo").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    val t1 = LakeTable.load(wh, "d", "t")
    import SparkTestSession.spark.implicits._
    t1.append(Seq((1, "a")).toDF("id", "v"))
    // promote id int->long, add column w
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"w","data_type":"double"}],"partitions":[]}""".stripMargin)
    val t2 = LakeTable.load(wh, "d", "t")
    t2.append(Seq((2L, "b", 2.5)).toDF("id", "v", "w"))

    val got = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got.toSeq == Seq((1L, "a", None), (2L, "b", Some(2.5))))
  }

  test("scan pushes column pruning and stats file skipping") {
    val wh = Files.createTempDirectory("graft-dsv2-push").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"},
        |{"column_name":"w","data_type":"double"}],
        |"partitions":[],
        |"properties":{"write.sort-order":"id","write.sort-buckets":"4",
        |"read.local-scan.max-bytes":"0"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    import SparkTestSession.spark.implicits._
    t.append(spark.range(4000).selectExpr("id", "CAST(id AS STRING) AS v",
      "CAST(id AS DOUBLE) AS w"))

    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves().head

    // column pruning: the scan's output shrinks to referenced columns
    val one = lakeReader(wh).option("table", "t").load().select("v")
    assert(scanOf(one).output.map(_.name) == Seq("v"))
    assert(one.count() == 4000)

    // stats skipping: a narrow id predicate plans fewer file-partitions
    val all = lakeReader(wh).option("table", "t").load()
    val narrow = all.filter(col("id") < 100)
    val allParts = all.rdd.getNumPartitions
    assert(allParts > 1)
    assert(narrow.rdd.getNumPartitions < allParts)
    assert(narrow.count() == 100) // rows still exact (residual filter)
  }

  test("tz-aware timestamp columns round-trip through the connector") {
    val wh = Files.createTempDirectory("graft-dsv2-tz").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"tz","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"at","data_type":"timezone"}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "tz")
    import SparkTestSession.spark.implicits._
    val stamp = java.sql.Timestamp.valueOf("2024-03-05 06:07:08.123456")
    t.append(Seq((1L, stamp)).toDF("id", "at"))
    val got = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "tz")
      .load().collect()(0)
    assert(got.getTimestamp(1) == stamp)
    // timestamp stats now exist (INT64 micros), enabling file pruning
    val fieldId = graft.schema.FieldIds.idOf(
      t.currentSchema.fields.find(_.name == "at").get)
    assert(LakeTable.load(wh, "d", "tz").plannedFiles()
      .head.stats.contains(fieldId))
  }

  test("reported file-size stats drive auto-broadcast in joins") {
    val (wh, t) = mkTable("stats")
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))
    val small = lakeReader(wh).load().select("id", "v")
    val big = spark.range(100000).selectExpr("id", "CAST(id AS STRING) AS s")
    // no broadcast hint: Catalyst must pick BHJ from the scan's
    // estimateStatistics (a few KB << the 10MB threshold)
    val joined = big.join(small, "id")
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "lake side should auto-broadcast")
    assert(joined.count() == 2)
  }

  test("runtime join filters prune files dynamically") {
    val wh = Files.createTempDirectory("graft-dsv2-dpp").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[],
        |"properties":{"write.sort-order":"id","write.sort-buckets":"8"}}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    import SparkTestSession.spark.implicits._
    t.append(spark.range(8000).selectExpr("id", "CAST(id AS STRING) AS v"))
    assert(t.plannedFiles().size > 4)

    // unit-level: a runtime In-filter on the scan prunes the file list
    val scanBuilder = new graft.sources.LakeScanBuilder(
      wh, "d", "t", 0L, t.currentSchema)
    val scan = scanBuilder.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
    val batch = scan.asInstanceOf[org.apache.spark.sql.connector.read.Scan].toBatch
    val before = batch.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array[Any](10L, 20L, 30L))))
    val after = batch.planInputPartitions().length
    assert(after < before && after >= 1, s"$after vs $before")
    // values in the surviving range still read correctly
    assert(lakeReader(wh).option("table", "t").load()
      .filter(col("id").isin(10L, 20L, 30L)).count() == 3)
  }

  test("COUNT(*) is answered from metadata without scanning files") {
    val (wh, t) = mkTable("count")
    // the scan is planned, not decoded on the driver: its leaf is the
    // pushed aggregate's
    t.updateProperties(Map(graft.sources.LakeLocalScan.MaxBytesProperty -> "0"))
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))
    t.append(df(Seq((3L, "c", ts(3)))))
    t.delete(spark, col("id") === 2L)
    val q = lakeReader(wh).load().groupBy().count()
    // pushed: the scan leaf reads the aggregated schema, no file parts
    val leaves = q.queryExecution.executedPlan.collectLeaves()
    assert(leaves.head.toString.contains("count("))
    assert(q.collect()(0).getLong(0) == 2)
    // filtered counts still go through the row path (not pushed)
    assert(lakeReader(wh).load().filter(col("id") > 1).count() == 1)
  }

  test("nested orders table reads through the connector incl. evolution") {
    val wh = Files.createTempDirectory("graft-dsv2-nested").toString
    Engine.processTableDefJson(wh, graft.gen.OrdersFixtures.ordersV1Json)
    val t1 = LakeTable.load(wh, "customer_order", "orders")
    t1.append(graft.gen.DataGen.toDf(spark,
      graft.gen.DataGen.ordersV1(10, seed = 7L), t1.currentSchema))
    Engine.processTableDefJson(wh, graft.gen.OrdersFixtures.ordersV2Json)
    val t2 = LakeTable.load(wh, "customer_order", "orders")
    t2.append(graft.gen.DataGen.toDf(spark,
      graft.gen.DataGen.ordersV2(5, seed = 8L), t2.currentSchema))

    val dsv2 = spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "customer_order")
      .option("table", "orders").load()
      .selectExpr("order_id", "customer_name", "address.city AS city",
        "address.zip AS zip", "size(order_items) AS n_items",
        "order_items[0].price AS first_price",
        "order_items[0].item_count AS first_count")
      .orderBy(col("order_id").asc_nulls_first, col("customer_name"),
        col("n_items"), col("first_price"))
    // the engine's own reconciling reader is the semantics oracle
    val native = t2.read(spark)
      .selectExpr("order_id", "customer_name", "address.city AS city",
        "address.zip AS zip", "size(order_items) AS n_items",
        "order_items[0].price AS first_price",
        "order_items[0].item_count AS first_count")
      .orderBy(col("order_id").asc_nulls_first, col("customer_name"),
        col("n_items"), col("first_price"))
    assert(dsv2.collect().map(_.toString).toSeq ==
      native.collect().map(_.toString).toSeq)
    assert(dsv2.count() == 15)
  }

  test("maxSnapshotsPerTrigger rate-limits micro-batches under AvailableNow") {
    val (wh, t) = mkTable("ratelimit")
    t.append(df(Seq((1L, "a", ts(1)))))
    t.append(df(Seq((2L, "b", ts(2)))))
    t.append(df(Seq((3L, "c", ts(3)))))

    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    val q = lakeStream(wh).option("maxSnapshotsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.synchronized {
          batches += ((id, batch.select("id").collect()
            .map(_.getLong(0)).toSet))
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one micro-batch per committed snapshot, in commit order, and the
    // capped stream still drains the whole backlog through one query
    val nonEmpty = batches.filter(_._2.nonEmpty).map(_._2).toSeq
    assert(nonEmpty == Seq(Set(1L), Set(2L), Set(3L)))

    // uncapped: the same three snapshots drain as a single batch
    val batches2 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q2 = lakeStream(wh).load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batches2.synchronized {
          batches2 += batch.select("id").collect().map(_.getLong(0)).toSet
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(batches2.filter(_.nonEmpty).toSeq == Seq(Set(1L, 2L, 3L)))
  }

  test("incremental batch read: fromSnapshot/toSnapshot options") {
    val (wh, t) = mkTable("incr-batch")
    val s1 = t.append(df(Seq((1L, "a", ts(1))))).id
    val s2 = t.append(df(Seq((2L, "b", ts(2)), (3L, "c", ts(3))))).id
    t.upsertMoR(spark, df(Seq((2L, "b2", ts(20)))), keys = Seq("id"))

    def ids(reader: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      reader.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // (s1, s2]: only the second append's rows
    assert(ids(lakeReader(wh).option("fromSnapshot", s1.toString)
      .option("toSnapshot", s2.toString).load().select("id", "v"))
      == Set((2L, "b"), (3L, "c")))
    // open-ended: everything after s1, incl. the upsert's added rows
    assert(ids(lakeReader(wh).option("fromSnapshot", s1.toString)
      .load().select("id", "v"))
      == Set((2L, "b"), (3L, "c"), (2L, "b2")))
    // filters + count still work on the range (no metadata shortcut)
    val ranged = lakeReader(wh).option("fromSnapshot", s1.toString).load()
    assert(ranged.filter(col("id") === 2L).count() == 2L)
    assert(ranged.count() == 3L)
  }

  test("incremental batch read fails loudly on row-removing snapshots " +
      "unless skipDeleteSnapshots opts in") {
    val (wh, t) = mkTable("incr-destr")
    val s1 = t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2))))).id
    t.deleteMoR(spark, col("id") === 1L)      // "delete" snapshot in range
    t.append(df(Seq((3L, "c", ts(3)))))
    // the range's added-rows view is missing the retraction: refuse
    val e = intercept[Exception] {
      lakeReader(wh).option("fromSnapshot", s1.toString).load().collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("row-removing")),
      s"got: ${chain(e).mkString(" | ")}")
    // explicit opt-in: added rows only, the delete is skipped
    val got = lakeReader(wh).option("fromSnapshot", s1.toString)
      .option("skipDeleteSnapshots", "true").load()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L))
  }

  test("streaming read delivers upsert snapshots' inserted rows") {
    val (wh, t) = mkTable("upstream")
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))
    // a blind MoR upsert: new row versions for key 2 plus a new key 3 —
    // the stream must deliver them (mirroring changesBetween), not
    // silently advance the offset past the snapshot
    t.upsertMoR(spark, df(Seq((2L, "b2", ts(20)), (3L, "c", ts(3)))),
      keys = Seq("id"))
    val q = lakeStream(wh).load()
      .writeStream.format("memory").queryName("lake_upsert_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append-only view: both versions of key 2 appear (the retraction
    // of (2,b) is an equality delete a row stream cannot express)
    val got = spark.sql("SELECT id, v FROM lake_upsert_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c")))
  }

  test("streaming read fails loudly on row-removing snapshots") {
    val (wh, t) = mkTable("failloud")
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))
    t.delete(spark, col("id") === 1L) // CoW overwrite snapshot
    val q = lakeStream(wh).load()
      .writeStream.format("memory").queryName("lake_failloud")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(ex).exists(_.contains("skipDeleteSnapshots")),
      s"expected a skipDeleteSnapshots hint, got: ${msgs(ex)}")
    // same history with the opt-in: appended rows stream, delete skipped
    val q2 = lakeStream(wh).option("skipDeleteSnapshots", "true").load()
      .writeStream.format("memory").queryName("lake_skipdel")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.sql("SELECT id FROM lake_skipdel").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("changelog stream: tagged inserts, full-row position markers, " +
      "key-only equality markers; CoW still refuses") {
    val (wh, t) = mkTable("chstream")
    t.append(df(Seq((1L, "a", ts(1)), (2L, "b", ts(2)))))
    t.deleteMoR(spark, col("id") === 1L)           // position delete
    t.upsertMoR(spark, df(Seq((2L, "B", ts(20)))), keys = Seq("id"))
    val q = lakeStream(wh).option("changelog", "true").load()
      .writeStream.format("memory").queryName("lake_chstream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql(
      """SELECT _change_ordinal, _change_type, id, v FROM lake_chstream""")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)).orNull)).toSet
    assert(got == Set(
      (0, "insert", 1L, "a"), (0, "insert", 2L, "b"),
      // position delete: the FULL deleted row reads back as the marker
      (1, "delete", 1L, "a"),
      // upsert: key-only equality marker (non-key columns null) ordered
      // before its own insert at the same ordinal
      (2, "delete", 2L, null), (2, "insert", 2L, "B")))
    // _change_snapshot_id tracks the committing snapshot
    val bySnap = spark.sql(
      "SELECT DISTINCT _change_snapshot_id FROM lake_chstream").collect()
      .map(_.getLong(0)).toSet
    assert(bySnap == Set(1L, 2L, 3L))
    // a CoW overwrite still has no row-level change info — refuse
    // (compact first: CoW ops are guarded while eq batches are live;
    // the rewrite snapshot itself is skipped by the changelog)
    t.compact(spark)
    t.delete(spark, col("id") === 2L)
    val q2 = lakeStream(wh).option("changelog", "true")
      .option("startSnapshot", "3").load()
      .writeStream.format("memory").queryName("lake_chstream2")
      .trigger(Trigger.AvailableNow()).start()
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def msgs(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(ex).exists(_.contains("row-level change")),
      s"got: ${msgs(ex)}")
  }

  test("changelog stream: a struct-nested equality key fills its " +
      "enclosing struct in the key-only marker") {
    import SparkTestSession.spark.implicits._
    val wh = Files.createTempDirectory("graft-dsv2-chnested").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"meta","data_type":"struct","struct_def":[
        |  {"column_name":"region","data_type":"string"},
        |  {"column_name":"score","data_type":"int"}]}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1L, "eu", 10), (2L, "us", 20)).toDF("id", "region", "score")
      .select(col("id"), struct(col("region"), col("score")).as("meta")))
    t.deleteByKeysMoR(spark, Seq("us").toDF("meta.region"))
    val q = lakeStream(wh).option("changelog", "true").load()
      .writeStream.format("memory").queryName("lake_chnested")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("SELECT _change_ordinal, _change_type, id, " +
        "meta.region, meta.score, meta IS NULL FROM lake_chnested")
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3),
        if (r.isNullAt(4)) None else Some(r.getInt(4)), r.getBoolean(5)))
      .toSet
    assert(got == Set(
      (0, "insert", Some(1L), "eu", Some(10), false),
      (0, "insert", Some(2L), "us", Some(20), false),
      // the marker: the key inside its struct, every other cell null
      (1, "delete", None, "us", None, false)))
    // the batch changelog plans the same partitions
    assert(LakeTable.load(wh, "d", "t").changelogBetween(spark, 0L, 2L)
      .filter(col("_change_type") === "delete")
      .select(col("id").isNull, col("meta.region"), col("meta.score").isNull)
      .collect().map(r => (r.getBoolean(0), r.getString(1), r.getBoolean(2)))
      .toSeq == Seq((true, "us", true)))
  }
}
