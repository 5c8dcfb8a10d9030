package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}
import graft.schema._

/** Table metadata written by older versions copies each small
  * equality batch's keys into the snapshot (`inline-keys` with the
  * batch's write types in `inline-types`, next to the marker files).
  * The marker files are now the only copy the engine keeps: such a
  * document must still load, and every later read, upsert, changelog
  * and compaction must give the same rows as on a table whose
  * metadata never carried the fields.
  */
class InlineKeyMetadataCompatSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def build(tag: String): String = {
    import spark.implicits._
    val wh = Files.createTempDirectory(s"graft-inline-compat-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"f","data_type":"double"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append((1L to 20L).map(i =>
      (i, i / 4.0, s"v$i")).toDF("id", "f", "v"))
    LakeTable.load(wh, "d", "t").upsertMoR(spark,
      Seq((3L, 0.75, "u3"), (5L, 1.25, "u5"), (21L, 5.25, "u21"))
        .toDF("id", "f", "v"), Seq("id"))
    LakeTable.load(wh, "d", "t").deleteByKeysMoR(spark,
      Seq((9L, 2.25), (11L, 0.0), (12L, 3.0)).toDF("id", "f"))
    wh
  }

  private def metadataDir(wh: String) = Paths.get(wh, "d", "t", "metadata")

  private def latest(wh: String): Int =
    Files.readString(metadataDir(wh).resolve("version-hint.text")).trim.toInt

  /** Rewrites the current table document as older versions wrote it:
    * each equality batch also carries its keys inline, rendered from
    * its marker files, with their write types.
    */
  private def addInlineKeys(wh: String): Unit = {
    val v = latest(wh)
    def batch(e: JValue): JValue = {
      val m = e.asObj
      val frame = spark.read.parquet(m("paths").asArr.map(_.asStr): _*)
      val rows = frame.collect().toSeq.map(r =>
        JArray(r.toSeq.map(x => if (x == null) JNull else JString(x.toString))))
      JObject(m ++ Map(
        "inline-keys" -> JArray(rows),
        "inline-types" -> JArray(frame.schema.fields.toSeq.map(f =>
          JString(f.dataType.simpleString)))))
    }
    def walk(j: JValue): JValue = j match {
      case JObject(fs) => JObject(fs.map {
        case ("eq-deletes", JArray(bs)) => "eq-deletes" -> JArray(bs.map(batch))
        case (k, x) => k -> walk(x)
      })
      case JArray(xs) => JArray(xs.map(walk))
      case other => other
    }
    val doc = Json.parse(Files.readString(metadataDir(wh).resolve(s"v$v.json")))
    Files.writeString(metadataDir(wh).resolve(s"v${v + 1}.json"),
      Json.write(walk(doc)))
    Files.writeString(metadataDir(wh).resolve("version-hint.text"),
      (v + 1).toString)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def state(wh: String): Seq[String] =
    rows(LakeTable.load(wh, "d", "t").read(spark))

  private def changelog(wh: String): Seq[String] = {
    val t = LakeTable.load(wh, "d", "t")
    rows(t.changelogBetween(spark, 0L, t.metadata.snapshots.map(_.id).max)
      .drop("_change_snapshot_id"))
  }

  test("a document carrying inline-keys/inline-types loads, and reads, " +
      "upserts, changelogs and compaction match a table without them") {
    import spark.implicits._
    val (old, plain) = (build("old"), build("plain"))
    addInlineKeys(old)
    val doc = Files.readString(metadataDir(old).resolve(s"v${latest(old)}.json"))
    assert(doc.contains("\"inline-keys\"") && doc.contains("\"inline-types\""))
    assert(LakeTable.load(old, "d", "t").metadata.snapshots
      .flatMap(_.eqDeletes).size == 2)
    assert(state(old) == state(plain))
    assert(state(plain).size == 19)
    assert(changelog(old) == changelog(plain))

    for (wh <- Seq(old, plain))
      LakeTable.load(wh, "d", "t").upsertMoR(spark,
        Seq((5L, 9.5, "w5"), (22L, 5.5, "w22")).toDF("id", "f", "v"),
        Seq("id"))
    assert(state(old) == state(plain))
    assert(changelog(old) == changelog(plain))
    // the next commit rewrites the document without the inline copy
    assert(!Files.readString(metadataDir(old).resolve(s"v${latest(old)}.json"))
      .contains("inline-keys"))

    for (wh <- Seq(old, plain)) LakeTable.load(wh, "d", "t").compact(spark)
    assert(LakeTable.liveEqDeletes(
      LakeTable.load(old, "d", "t").metadata.snapshots).isEmpty)
    assert(state(old) == state(plain))
    assert(changelog(old) == changelog(plain))
    assert(rows(LakeTable.load(old, "d", "t").read(spark)
      .filter(col("id") === 5L).select("v")) == Seq("[w5]"))
  }
}
