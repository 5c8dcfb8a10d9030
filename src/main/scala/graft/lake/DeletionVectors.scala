package graft.lake

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** One live deletion vector: the deleted row positions of a single data
  * file as a 64-bit Roaring bitmap blob inside a container file
  * (Iceberg v3's DV model — one vector per data file, a new vector
  * REPLACES the old one rather than accumulating delete files, see the
  * v3 spec's "deletion vectors" section; the reference repo itself has
  * no delete surface at all, `iceberg_helper.py` writes append-only).
  *
  * `dataPath` is the data file whose positions are deleted (stored
  * normalized). `dvPath`+`offset`+`length` locate the FULL bitmap blob
  * (every deleted position, merged at write time). `cardinality` is
  * its exact bit count — metadata-only COUNT(*) stays exact without
  * opening the blob. `deltaOffset`+`deltaLength` locate a second blob
  * holding only the positions NEWLY deleted by the committing
  * snapshot; the changelog reads that delta directly instead of
  * reconstructing new-minus-previous from two full vectors (a Graft
  * extension over the Iceberg layout — the full blob serves reads, the
  * delta serves CDC, both written once while the writer holds them).
  */
case class DvMeta(dataPath: String, dvPath: String,
    offset: Long, length: Long, cardinality: Long,
    deltaOffset: Long, deltaLength: Long)

/** Container-file IO for deletion vectors.
  *
  * Layout: 4-byte magic "GDV1", then back-to-back blobs; each blob is
  * `[len: int4][bitmap: len bytes][crc32(bitmap): int4]` with the
  * bitmap in Roaring64Bitmap's native serialization. Blob boundaries
  * live in table metadata ([[DvMeta]]), not the container — same
  * contract as Iceberg's Puffin: readers seek straight to
  * (offset, length) and never scan the file.
  */
object DeletionVectors {
  val Magic: Array[Byte] = "GDV1".getBytes("UTF-8")

  def serialize(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream()
    bm.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap()
    bm.deserialize(new DataInputStream(new ByteArrayInputStream(bytes)))
    bm
  }

  /** Deleted positions gathered one (data file, position) pair at a
    * time into one bitmap per data file (keyed by normalized path):
    * the half of every merge-on-read delete that runs where the
    * positions are found — a row-op scan task, the driver, a SQL delta
    * writer. `serialized` is what a task ships back; [[union]] ORs the
    * shipped bitmaps per file on the driver.
    */
  final class Positions {
    private val byFile = new java.util.HashMap[String, Roaring64Bitmap]()
    // matched rows arrive grouped by file: resolve the bitmap once a run
    private var runPath: UTF8String = null
    private var run: Roaring64Bitmap = null

    def add(path: UTF8String, pos: Long): Unit = {
      if (path != runPath) {
        runPath = path.clone()
        run = byFile.computeIfAbsent(LakeTable.normalizePath(path.toString),
          _ => new Roaring64Bitmap())
      }
      run.addLong(pos)
    }

    def serialized: Seq[(String, Array[Byte])] =
      byFile.asScala.toSeq.map { case (p, bm) => p -> serialize(bm) }
  }

  /** The bitmaps of (path, position) rows — the path a string at
    * ordinal 0, the position a long at ordinal 1 — as one task ships
    * them. */
  def foldPositions(rows: Iterator[InternalRow]): Iterator[(String, Array[Byte])] = {
    val acc = new Positions
    rows.foreach(r => acc.add(r.getUTF8String(0), r.getLong(1)))
    acc.serialized.iterator
  }

  /** OR shipped bitmaps per data file. */
  def union(parts: Iterator[(String, Array[Byte])]): Map[String, Roaring64Bitmap] = {
    val out = scala.collection.mutable.HashMap.empty[String, Roaring64Bitmap]
    parts.foreach { case (p, bytes) =>
      val bm = deserialize(bytes)
      out.get(p) match {
        case Some(acc) => acc.or(bm)
        case None => out(p) = bm
      }
    }
    out.toMap
  }

  /** Write one container holding, per affected data file, the full
    * merged vector and the newly-deleted delta vector (framing shared
    * with every sidecar format — [[ContainerIO]]). Returns the
    * [[DvMeta]] entries to commit. `blobs` maps the NORMALIZED data
    * path to (full, delta).
    */
  def writeContainer(path: Path,
      blobs: Seq[(String, (Roaring64Bitmap, Roaring64Bitmap))]): Seq[DvMeta] = {
    val spans = ContainerIO.writeBlobs(path, Magic,
      blobs.flatMap { case (_, (full, delta)) =>
        Seq(serialize(full), serialize(delta)) })
    blobs.zipWithIndex.map { case ((dataPath, (full, _)), i) =>
      val (fOff, fLen) = spans(2 * i)
      val (dOff, dLen) = spans(2 * i + 1)
      DvMeta(dataPath, path.toString, fOff, fLen,
        full.getLongCardinality, dOff, dLen)
    }
  }

  /** Read one blob at (offset, length); the shared framing verifies
    * the CRC so a torn or mis-addressed read fails loudly instead of
    * silently resurrecting rows.
    */
  def readBlob(dvPath: String, offset: Long, length: Long): Roaring64Bitmap =
    deserialize(ContainerIO.readBlob(dvPath, offset, length,
      "deletion vector"))

  /** Process-wide vector cache, byte-budgeted ([[BlobCache]]):
    * containers are immutable so entries never invalidate, and the
    * budget bounds driver/executor heap no matter how many files a
    * scan cycles through. The map-level lock is off the row path: a
    * reader loads its file's vector once, not per row.
    */
  private val cache = new BlobCache[Roaring64Bitmap](256L << 20,
    bm => bm.serializedSizeInBytes())

  def cached(dvPath: String, offset: Long, length: Long): Roaring64Bitmap =
    cache.getOrLoad(dvPath, offset)(readBlob(dvPath, offset, length))
}
