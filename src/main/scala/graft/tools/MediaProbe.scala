package graft.tools

import org.apache.spark.sql.functions._

import graft.obs.JobMeter.time

/** Scale probe for the multimodal decode tiers: generate a large
  * real-payload media table (genuine PNG + PCM WAV bytes), persist it as
  * parquet, then measure
  *
  *   1. header-only triage (`scanMetadata` — ~dozens of bytes per asset),
  *   2. full pixel/sample decode (`decodeAll` — zlib inflate + raster
  *      walk / sample pass),
  *   3. decode → banded perceptual near-dup (the 100 TB image-dedup
  *      shape: bucket join, never all-pairs),
  *   4. decode → resize → re-encode (the thumbnailing pass).
  *
  * The structural claim: triage cost is I/O-bound and flat per asset;
  * full decode is payload-bound; both scale linearly with assets across
  * partitions (no shuffle anywhere until the near-dup's bucket join,
  * which shuffles only (id, hash, band) longs — never payloads).
  * Results land in BASELINE.md (round 10). */
object MediaProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-media-probe")
    import spark.implicits._
    val n = sys.env.getOrElse("SPARK_GRAFT_MEDIA_N", "60000").toInt
    val tmp = java.nio.file.Files.createTempDirectory("graft-mediaprobe")
    // materialize the fixture to parquet first so generation cost (PNG
    // encode) never pollutes the decode timings
    val src = s"$tmp/media"
    time(f"generate $n real payloads (PNG encode + WAV write) -> parquet") {
      graft.operators.Multimodal.syntheticMediaReal(spark, n)
        .repartition(16).write.parquet(src)
    }
    val media = spark.read.parquet(src)
      .as[graft.operators.Multimodal.MediaRow]
    val bytes = media.toDF().agg(sum(col("meta_bytes"))).head().getLong(0)
    println(f"payload volume: ${bytes / 1e6}%.1f MB across $n assets")
    for (i <- 1 to 2)
      time(f"scanMetadata run$i (header-only triage)") {
        graft.operators.Multimodal.scanMetadata(media).toDF()
          .groupBy(col("kind")).agg(count(lit(1)), avg(col("width"))).collect()
      }
    for (i <- 1 to 2)
      time(f"decodeAll run$i (full pixel/sample decode)") {
        graft.operators.Multimodal.decodeAll(media).toDF()
          .groupBy(col("kind"))
          .agg(count(lit(1)), avg(col("width")),
            avg(element_at(col("features"), 1))).collect()
      }
    // image near-dup: grid fixture (groups of brightness-shifted dupes)
    // at the same asset count — decode once, bucket-join hashes
    val grid = s"$tmp/grid"
    val nGrid = math.min(n, 80 * 5 * 50) // 85-group distinctness bound per batch
    time(f"generate ${nGrid} grid payloads -> parquet") {
      // distinct pattern space is 85 groups; tile batches of 80 groups
      // with disjoint id ranges (hash collisions across tiles are the
      // realistic regime for the candidate join anyway)
      val per = 5
      val batches = (0 until (nGrid / (80 * per))).map { t =>
        graft.operators.Multimodal.syntheticGridMedia(spark, 80, per)
          .map(r => r.copy(media_id = r.media_id + t * 10000000L))
      }
      batches.reduce(_ union _).repartition(16).write.parquet(grid)
    }
    val gridMedia = spark.read.parquet(grid)
      .as[graft.operators.Multimodal.MediaRow]
    time("decode + banded phash near-dup (bucket join, no all-pairs)") {
      val dec = graft.operators.Multimodal.decodeAll(gridMedia).toDF()
      val pairs = graft.operators.NearDup.signatureCandidates(
        dec, "media_id", "phash", maxHamming = 3)
      println("  near-dup pairs: " + pairs.count())
    }
    time("decode + resize to 64px + PNG re-encode (thumbnail pass)") {
      val dec = graft.operators.Multimodal.decodeAll(media)
      val rz = graft.operators.Multimodal.resizeImages(dec, media, maxSide = 64)
      println("  thumbnails: " + rz.toDF().agg(
        count(lit(1)), sum(length(col("payload")))).head())
    }
    // large-raster tier: the fixture's thumbnails undersell per-byte
    // codec cost — measure MB/s on 512×512 textured PNGs (pattern, not
    // solid: realistic deflate ratios)
    val big = s"$tmp/big"
    val nBig = 2000
    time(f"generate $nBig 512x512 textured PNGs -> parquet") {
      spark.range(nBig.toLong).map { i =>
        val payload = graft.operators.JvmCodec.encodePng(
          graft.operators.JvmCodec.grayImage(512, 512)((x, y) =>
            ((x * 31 + y * 17 + i * 7) % 251).toInt))
        graft.operators.Multimodal.MediaRow(i, "image", payload, "png",
          payload.length.toLong)
      }.repartition(16).write.parquet(big)
    }
    val bigMedia = spark.read.parquet(big)
      .as[graft.operators.Multimodal.MediaRow]
    val bigBytes = bigMedia.toDF().agg(sum(col("meta_bytes"))).head().getLong(0)
    for (i <- 1 to 2)
      time(f"decodeAll run$i over ${bigBytes / 1e6}%.0f MB of 512x512 PNGs") {
        graft.operators.Multimodal.decodeAll(bigMedia).toDF()
          .agg(count(lit(1)), avg(element_at(col("features"), 4))).collect()
      }
    // frame-sampled decode at volume: 5k six-frame GIFs, every 2nd frame
    time("extractFrames over 5000 six-frame GIFs (stride 2)") {
      val gifs = graft.operators.Multimodal.syntheticAnimatedMedia(spark, 5000, 6)
      println("  frame rows: " + graft.operators.Multimodal
        .extractFrames(gifs, stride = 2).toDF().count())
    }
    // perceptual admission at volume: a 10k incoming batch (all exact
    // replays of corpus payloads under fresh ids — the worst case for
    // the reject path) against the 60k-asset hash index
    val hashIndex = time("build the (id, payload_hash, phash) index for 60k assets") {
      val idx = graft.operators.Multimodal.mediaIndexProjection(
        graft.operators.Multimodal.decodeAll(media).toDF()
          .join(media.toDF().select(col("media_id"),
            xxhash64(col("payload")).as("payload_hash")), "media_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count(); idx
    }
    time("admission: 10k incoming (all dupes) vs the 60k index") {
      val incoming = graft.operators.Multimodal.syntheticMediaReal(spark, 10000)
        .map(r => r.copy(media_id = r.media_id + 10000000L))
      val (adm, _) = graft.operators.Multimodal.admitMediaPerceptual(
        incoming, hashIndex)
      println("  admitted (expect 0): " + adm.count())
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    spark.stop()
  }
}
