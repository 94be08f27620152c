package perfbench

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HashImpl, SketchImpl}
import graft.operators.{JpegKernel, MediaBatchProcessor, MultimodalQueries}

/** Per-item cost of the hand-written kernels the curation queries call,
  * timed directly on seeded inputs. */
object Kernels {

  /** Mean seconds per item over whole passes of `items`, after one
    * untimed pass, repeating until at least `minS` seconds were timed. */
  private def perItem(items: Int, minS: Double = 0.25)(f: Int => Unit): Double = {
    var i = 0
    while (i < items) { f(i); i += 1 }
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minS) {
      i = 0
      while (i < items) { f(i); i += 1 }
      n += items
    }
    (System.nanoTime() - t0) / 1e9 / n
  }

  def measure(seed: Long): Map[String, Double] = {
    val texts = Gen.documents(400, seed).rows.map(_(1).asInstanceOf[String])
    val tokens = texts.map(t => new GenericArrayData(t.split(" ").map(UTF8String.fromString).toArray[Any]))
    val utf8 = texts.map(UTF8String.fromString)
    val jpegs = texts.indices.map(i => MultimodalQueries.textToJpegRow(i, texts(i)).payload)
    val pngs = texts.indices.map(i => MultimodalQueries.textToPngRow(i, texts(i)).payload)
    val out = Map(
      "functions.minhash_ns_per_row" ->
        perItem(tokens.length)(i => sink += SketchImpl.minhashSig(tokens(i), 32).numElements()) * 1e9,
      "functions.md5_prefix_ns_per_row" ->
        perItem(utf8.length)(i => sink += HashImpl.md5PrefixUtf8(utf8(i), 10)) * 1e9,
      "operators.jpeg_decode_ms_per_image" ->
        perItem(jpegs.length)(i => sink += JpegKernel.decodeJpeg(jpegs(i)).width) * 1e3,
      "operators.png_decode_ms_per_image" ->
        perItem(pngs.length)(i => sink += MediaBatchProcessor.decodePng(pngs(i)).width) * 1e3)
    out
  }

  /** Results feed this field so the timed calls cannot be optimized away. */
  @volatile private var sink = 0L
}
