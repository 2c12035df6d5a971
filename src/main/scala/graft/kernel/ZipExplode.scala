package graft.kernel

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer

/** ZIP archive explode — open archive, skip directory entries, return
  * (name, bytes) per file entry in archive order (reference
  * app/utils/file_handler.py:130-151). 1 row → N rows: semantically a
  * generator; executed inside the kernel stage.
  */
object ZipExplode {

  /** Cap on an archive's total inflated bytes: the reference's upload
    * cap (`MAX_UPLOAD_SIZE`, config.py:14), so a zip bomb fails as an
    * error span instead of exhausting the executor's heap.
    */
  val MaxInflatedBytes: Long = 100L << 20

  def entries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = ArrayBuffer.empty[(String, Array[Byte])]
    val buf = new Array[Byte](8192)
    var total = 0L
    try {
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val bos = new ByteArrayOutputStream()
          var n = zis.read(buf)
          while (n > 0) {
            total += n
            if (total > MaxInflatedBytes)
              throw new java.io.IOException(
                s"zip inflates past $MaxInflatedBytes bytes at entry ${e.getName}")
            bos.write(buf, 0, n); n = zis.read(buf)
          }
          out += ((e.getName, bos.toByteArray))
        }
        e = zis.getNextEntry
      }
    } finally zis.close()
    out.toSeq
  }

  /** Deterministic archive builder (fixtures): pinned entry times so the
    * same inputs always produce identical bytes.
    */
  def build(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }
}
