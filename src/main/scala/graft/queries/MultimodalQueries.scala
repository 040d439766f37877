package graft.queries

import graft.SparkEntry.goldenDir
import org.apache.spark.sql.functions._

/** Media decoding from payload bytes: audio/video containers, images,
  * animation frames and resizing, checked against generation-time truth.
  */
object MultimodalQueries {
  val all: Seq[Query] = Seq(
    Query("multimodal_av", (s, dir) => {
      // real WAV/MP4 container headers: channels, sample rate, duration
      // and track count derived from the BYTES; truth columns oracled
      val media = s.read.parquet(s"$goldenDir/media_av.parquet")
        .select(col("id"), col("payload"))
      graft.ops.Multimodal.decodeAv(media).orderBy(col("id"))
    },
      (s"SELECT id, true_kind AS kind, true_channels AS channels, " +
        "true_sample_rate AS sample_rate, true_duration_ms AS duration_ms, " +
        "true_tracks AS n_tracks, true AS valid " +
        s"FROM read_parquet('$goldenDir/media_av.parquet') ORDER BY id")),

    Query("multimodal_decode", (s, dir) => {
      // committed real-format media corpus (tiny but structurally valid
      // PNG/GIF/JPEG payloads): the kernel derives dimensions/channels
      // from the BYTES; the oracle reads the generation-time truth
      // columns of the same parquet — a genuine dual-derivation check
      val media = s.read.parquet(s"$goldenDir/media.parquet")
        .select(col("id"), col("payload"))
      graft.ops.Multimodal.aspectFit(graft.ops.Multimodal.decode(media))
        .select(col("id"), col("kind"), col("width"), col("height"),
          col("channels"), col("valid"), col("out_width"), col("out_height"))
        .orderBy(col("id"))
    },
      s"""WITH m AS (SELECT * FROM read_parquet('$goldenDir/media.parquet')),
        |r AS (SELECT id, true_kind AS kind, true_width AS width,
        |  true_height AS height, true_channels AS channels, true AS valid,
        |  CASE WHEN greatest(true_width, true_height) <= 256 THEN 1.0
        |       ELSE 256.0 / greatest(true_width, true_height) END AS scale
        |FROM m)
        |SELECT id, kind, width, height, channels, valid,
        |  floor(width * scale)::INT AS out_width,
        |  floor(height * scale)::INT AS out_height
        |FROM r ORDER BY id""".stripMargin),

    Query("multimodal_frames", (s, dir) => {
      // REAL video-style frame sampling: every frame of each animated
      // GIF is LZW-decoded and palette-mapped; each 2nd frame emits its
      // dimensions and pixel CRC. Oracle = the generation-time per-frame
      // truth table (computed from the index planes, never through the
      // encoder) filtered to the same stride.
      val media = graft.jobs.ExtractJob.atClusterWidth(
        s.read.parquet(s"$goldenDir/media_anim.parquet"))
      graft.ops.Multimodal.frameSample(media, stride = 2)
        .orderBy(col("id"), col("frame_idx"))
    },
      (s"SELECT id, frame_idx, true_n_frames AS n_frames, " +
        "true_width AS width, true_height AS height, true_crc AS frame_crc, " +
        "true AS valid " +
        s"FROM read_parquet('$goldenDir/media_anim_truth.parquet') " +
        "WHERE frame_idx % 2 = 0 ORDER BY id, frame_idx")),

    Query("multimodal_resize", (s, dir) => {
      // REAL pixel path over a mixed PNG+GIF corpus: the kernel sniffs
      // the format, decodes (PNG: IDAT inflate + all five scanline
      // unfilters; GIF: LZW + palette mapping), box-filter downscales,
      // and checksums the pixel buffers. The oracle reads truth columns
      // computed at generation time STRAIGHT FROM THE PROCEDURAL PIXELS
      // (never through either encoder), so encode and decode are
      // independent derivations meeting at the CRC.
      val media = graft.jobs.ExtractJob.atClusterWidth(
        s.read.parquet(s"$goldenDir/media_px.parquet")
          .select(col("id"), col("payload")))
      graft.ops.Multimodal.resizeImages(media, maxSide = 64).orderBy(col("id"))
    },
      (s"SELECT id, true_width AS width, true_height AS height, " +
        "true_channels AS channels, true_out_width AS out_width, " +
        "true_out_height AS out_height, true_raw_crc AS raw_crc, " +
        "true_out_crc AS out_crc, true AS valid " +
        s"FROM read_parquet('$goldenDir/media_px.parquet') ORDER BY id"))
  )

}
