package graft.lake

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream}
import java.nio.file.Path

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
