package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio quality signal (the RefinedWeb / MassiveText
  * recipe family scores documents by zlib compressibility): highly
  * repetitive machine-generated or boilerplate text compresses far
  * below natural prose, so `deflated_bytes / utf8_bytes` is a cheap,
  * language-agnostic repetitiveness proxy that needs no tokenizer and
  * no vocabulary. Scan-local by construction — one DEFLATE pass per
  * row inside whole-stage codegen, nothing shuffles.
  */
object CompressKernels {

  /** DEFLATE (raw, no zlib header) size of the UTF-8 bytes over the
    * raw size. Empty text → 1.0 (nothing to judge). Level 6 is zlib's
    * default speed/size balance; the signal needs relative order, not
    * optimal compression. */
  def deflateRatioKernel(input: UTF8String, level: Int): Double = {
    val bytes = input.getBytes
    if (bytes.length == 0) return 1.0
    val deflater = new java.util.zip.Deflater(level, true)
    try {
      deflater.setInput(bytes)
      deflater.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!deflater.finished()) total += deflater.deflate(buf)
      total.toDouble / bytes.length
    } finally deflater.end()
  }
}

object CompressColumns {
  /** string → double: DEFLATE-compressed size / raw UTF-8 size. */
  def deflateRatio(text: Column, level: Int = 6): Column = {
    require(level >= 1 && level <= 9, s"deflate level must be in [1, 9], got $level")
    KernelCall.column("deflateratio", CompressKernels, "deflateRatioKernel", DoubleType,
      Seq(text), Seq(level))
  }
}
