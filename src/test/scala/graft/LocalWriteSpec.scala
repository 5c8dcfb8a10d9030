package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** The driver-side LocalRelation write fast path
  * ([[graft.lake.LakeTable]] `writeDataFiles`' driver run of the
  * direct writer / `writeEqDeleteBatch`'s inline branch): bytes must be
  * indistinguishable from a FileFormatWriter job's output for every
  * storable type, and the path must actually run WITHOUT Spark jobs —
  * that is its whole point.
  */
class LocalWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def countJobs[A](body: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      // listener events post asynchronously — settle before reading
      // (two stable reads 100ms apart; a job we care about would have
      // posted its start long before)
      var prev = -1
      var cur = jobs.get
      while (prev != cur) { Thread.sleep(100); prev = cur; cur = jobs.get }
      (r, cur)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a local append writes ZERO Spark jobs and round-trips every " +
      "storable type exactly (nested structs, arrays, maps, decimals, " +
      "timestamps, dates, binary, nulls)") {
    val wh = Files.createTempDirectory("graft-localwrite").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"dec","data_type":"decimal(12,4)"},
        |{"column_name":"ts","data_type":"timestamp"},
        |{"column_name":"tz","data_type":"timezone"},
        |{"column_name":"dt","data_type":"date"},
        |{"column_name":"bin","data_type":"binary"},
        |{"column_name":"nested","data_type":"struct","struct_def":[
        |  {"column_name":"a","data_type":"int"},
        |  {"column_name":"b","data_type":"string"}]},
        |{"column_name":"xs","data_type":"array","array_def":
        |  {"column_name":"element","data_type":"long"}},
        |{"column_name":"m","data_type":"map","map_def":{
        |  "key":{"column_name":"mk","data_type":"string","required":true},
        |  "value":{"column_name":"mv","data_type":"long"}}}],
        |"partitions":[]}""".stripMargin)
    val t = LakeTable.load(wh, "d", "t")
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST('1234.5678' AS DECIMAL(12,4)),
        |   TIMESTAMP_NTZ'2024-03-01 12:34:56.789012',
        |   TIMESTAMP'2024-03-01 12:34:56.789012',
        |   DATE'2024-02-29', X'DEADBEEF',
        |   named_struct('a', 7, 'b', 'seven'),
        |   array(1L, 2L, 3L), map('x', 1L, 'y', 2L)),
        |  (2L, CAST(NULL AS DECIMAL(12,4)),
        |   CAST(NULL AS TIMESTAMP_NTZ), CAST(NULL AS TIMESTAMP),
        |   CAST(NULL AS DATE), CAST(NULL AS BINARY),
        |   CAST(NULL AS STRUCT<a:INT,b:STRING>),
        |   CAST(NULL AS ARRAY<BIGINT>), CAST(NULL AS MAP<STRING,BIGINT>))
        |AS v(k, dec, ts, tz, dt, bin, nested, xs, m)""".stripMargin)
    val (_, jobs) = countJobs {
      t.append(df)
    }
    assert(jobs == 0,
      s"a LocalRelation append must not launch Spark jobs, got $jobs")
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.metadata.snapshots.head.files.size == 1,
      "one file per local publication")
    // engine read AND a raw parquet read both see the exact values
    val got = t2.read(spark).orderBy("k").collect()
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getLong(0) == 1L)
    assert(r1.getDecimal(1).toPlainString == "1234.5678")
    assert(r1.getAs[java.time.LocalDateTime](2).toString
      .startsWith("2024-03-01T12:34:56.789012"))
    assert(r1.getAs[java.sql.Date](4) != null ||
      r1.getAs[java.time.LocalDate](4) != null)
    assert(r1.getAs[Array[Byte]](5).toSeq ==
      Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte))
    assert(r1.getStruct(6).getInt(0) == 7 &&
      r1.getStruct(6).getString(1) == "seven")
    assert(r1.getSeq[Long](7) == Seq(1L, 2L, 3L))
    assert(r1.getMap[String, Long](8) == Map("x" -> 1L, "y" -> 2L))
    val r2 = got(1)
    assert((1 to 8).forall(r2.isNullAt), "null row must round-trip")
    // the raw file is plain parquet any reader can open
    val path = t2.metadata.snapshots.head.files.head.path
    assert(spark.read.parquet(path).count() == 2)
    // footer stats were read off the driver-written file (min/max on k)
    val stats = t2.metadata.snapshots.head.files.head.stats
    assert(stats.nonEmpty, "driver-written files must carry footer stats")
  }

  test("explicit repartition opts OUT of the single-file rule; " +
      "partitioned local appends write on the driver too") {
    val wh = Files.createTempDirectory("graft-localwrite2").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"p","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[{"column":"k","name":"kp"}]}"""
        .stripMargin)
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "p")
    val (_, jobs) = countJobs {
      t.append(Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("k", "v"))
    }
    assert(jobs == 0,
      s"a partitioned local append must not launch Spark jobs, got $jobs")
    val files = LakeTable.load(wh, "d", "p").metadata.snapshots.head.files
    assert(files.map(f => f.partitionValues("kp") -> f.rows).toSet ==
      Set("1" -> 2L, "2" -> 1L), "one file per partition value")
    assert(LakeTable.load(wh, "d", "p").read(spark).count() == 3L)
    // unpartitioned + explicit repartition: the caller's file spread
    // is respected (N files)
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"u","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    val u = LakeTable.load(wh, "d", "u")
    u.append((1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4))
    assert(LakeTable.load(wh, "d", "u").metadata.snapshots.head
      .files.size > 1, "explicit repartition must keep its spread")
  }
}
