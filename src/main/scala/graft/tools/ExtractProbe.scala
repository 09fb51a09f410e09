package graft.tools

import org.apache.spark.sql.functions._

import graft.obs.JobMeter.time

/** Throughput probe for the binary→text extraction tier: amplify the
  * fixture corpus, encode it into each REAL container (pdf, docx, odt,
  * rtf, html), persist the payloads, then time extraction per format —
  * the docs/s numbers a 100 TB ingest plan needs. Extraction is
  * mapPartitions over the payload column: linear, shuffle-free, scales
  * with executors. Results land in BASELINE.md (round 10). */
object ExtractProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-extract-probe")
    import spark.implicits._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val amplify = sys.env.getOrElse("SPARK_GRAFT_EXTRACT_X", "4").toInt
    val tmp = java.nio.file.Files.createTempDirectory("graft-extractprobe")
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val big = (0 until amplify).map(i =>
      docs.select((col("doc_id") + i * 10000000L).as("doc_id"), col("text")))
      .reduce(_ union _)
    val n = big.count()
    println(s"docs=$n (${amplify}x $sfDir)")
    val formats: Seq[(String, String => Array[Byte])] = Seq(
      "pdf" -> (t => graft.operators.PdfText.write(Seq(t))),
      "docx" -> (t => graft.operators.DocxText.write(Seq(t))),
      "odt" -> (t => graft.operators.OdtText.write(Seq(t))),
      "rtf" -> (t => graft.operators.RtfText.write(Seq(t))),
      "html" -> (t => ("<html><body><p>" +
        t.replace("&", "&amp;").replace("<", "&lt;") +
        "</p></body></html>").getBytes("UTF-8")))
    formats.foreach { case (fmt, enc) =>
      val dir = s"$tmp/$fmt"
      time(f"$fmt%-5s encode $n docs -> parquet") {
        big.map(r => graft.operators.Multimodal.DocMediaRow(
          r.getLong(0), enc(r.getString(1)), fmt))
          .toDF().repartition(16).write.parquet(dir)
      }
      val media = spark.read.parquet(dir)
        .as[graft.operators.Multimodal.DocMediaRow]
      val bytes = media.toDF()
        .agg(sum(length(col("payload")))).head().getLong(0)
      for (i <- 1 to 2)
        time(f"$fmt%-5s extract run$i (${bytes / 1e6}%.0f MB)") {
          val out = graft.operators.Multimodal.extractText(media).toDF()
            .agg(count(lit(1)), sum(length(col("text")))).head()
          if (i == 1) println(s"  rows=${out.getLong(0)} chars=${out.getLong(1)}")
        }
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    spark.stop()
  }
}
