package graftbench

import java.io.File
import java.nio.file.{Files => JFiles}

import graft.{multimodal => M}
import graft.functions.TextOps
import graft.functions.expressions.{Bpe, TextExprs}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel probes of the traced run, outside the timed pass. */
object Probes {
  val PayloadsPerKind = 24

  /** Seeded payloads for the decode probe, written with graft's own
    * encoders (the input digest covers them): images, brotli-coded
    * pages, PDFs and DOCX files.
    */
  def writePayloads(dir: File, g: Gen): Unit = {
    def image(): M.Netpbm.Image = {
      val (w, h) = (16 + 8 * g.int(4), 16 + 8 * g.int(4))
      M.Netpbm.Image(w, h, 255, Array.tabulate(w * h * 3)(i => ((i * 7 + g.int(40)) & 0xff).toByte))
    }
    def page(): Array[Byte] =
      s"<html><head><title>news</title></head><body><p>${g.sentence(200)}</p></body></html>".getBytes("UTF-8")
    for (i <- 0 until PayloadsPerKind) {
      def put(kind: String, b: Array[Byte]): Unit = Files.write(new File(dir, s"payloads/$kind-$i.bin"), b)
      put("jpeg", M.Jpeg.encode(image()))
      put("png", M.Png.encode(image()))
      put("webp", M.Webp.encode(image()))
      put("br", M.Brotli.encodeFixed(page(), split = i % 2 == 0))
      put("pdf", M.PdfText.write(s"report ${g.sentence(g.between(40, 120))}"))
      put("docx", M.Docx.write(s"memo ${g.sentence(g.between(40, 120))}"))
    }
  }

  /** MB/s of each decoder over the payloads of [[writePayloads]], JVM only. */
  def multimodal(inputs: File): Map[String, Double] = {
    val kinds = Seq[(String, String, Array[Byte] => Any)](
      ("jpeg", "multimodal.jpeg_decode_mb_s", M.Jpeg.decode),
      ("png", "multimodal.png_decode_mb_s", M.Png.decode),
      ("webp", "multimodal.webp_decode_mb_s", M.Webp.decode),
      ("br", "multimodal.brotli_decode_mb_s", b => M.Brotli.decode(b)),
      ("pdf", "multimodal.pdf_extract_mb_s", M.PdfText.extract),
      ("docx", "multimodal.docx_extract_mb_s", (b: Array[Byte]) => M.Docx.extractText(b)))
    val dir = new File(inputs, "payloads")
    kinds.map { case (kind, metric, decode) =>
      val ps = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith(kind + "-"))
        .sortBy(_.getName).map(f => JFiles.readAllBytes(f.toPath))
      require(ps.nonEmpty, s"no $kind payloads under $dir")
      ps.foreach(p => require(decode(p) != None, s"$kind probe payload does not decode"))
      val bytes = ps.map(_.length.toLong).sum
      // passes of the whole set until 200 ms are spent, after one warm pass
      var n = 0L; val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L) { ps.foreach(decode); n += 1 }
      metric -> n * bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }.toMap
  }

  /** MB/s of three text kernels on a cached one-partition frame: the
    * time of a projection with the kernel minus the time of the same
    * projection of the text itself (median of five).
    */
  def functions(spark: SparkSession, docs: File): Map[String, Double] = {
    val df = spark.read.text(docs.getPath).select(col("value").as("text")).coalesce(1).cache()
    df.count()
    val mb = docs.length / 1e6
    val vocab = Bpe.train(df.limit(100).collect().map(_.getString(0)).toSeq, 64)
    def ms(c: Column): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      df.select(c.as("x")).agg(sum(hash(col("x")))).collect()
      (System.nanoTime() - t0) / 1e6
    })
    val tokens = TextOps.tokens(col("text"))
    val kernels = Seq(
      "functions.minhash_mb_s" -> TextExprs.minhashShingleSig(tokens, 3, 64),
      "functions.window_md5_mb_s" -> TextExprs.windowMd5Hashes(tokens, 8),
      "functions.bpe_count_mb_s" -> Bpe.count(col("text"), vocab))
    ms(col("text"))
    val base = ms(col("text"))
    val out = kernels.map { case (n, c) => ms(c); n -> mb / (math.max(ms(c) - base, 1.0) / 1e3) }.toMap
    df.unpersist()
    out
  }
}
