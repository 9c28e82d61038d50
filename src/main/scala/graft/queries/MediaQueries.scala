package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.operators.MediaCodec

/** Multimodal queries over REAL JDK codecs ([[graft.operators.MediaCodec]]).
  *
  * q32 keeps the partition-batched plumbing with a deterministic payload
  * fold; these two close the gap the stub left: the payloads here are real
  * PNG and WAV files, and the decode step is a real codec (`javax.imageio`
  * / `javax.sound.sampled`). Because both formats are lossless, the DuckDB
  * oracle can replay the deterministic raster/sample arithmetic and the
  * feature reduction in SQL — so the hash gate proves the full
  * encode→decode→featurize round trip is bit-faithful, not just that the
  * plumbing runs.
  *
  * Reference shape: srm_etl treats media as opaque blobs next to typed
  * metadata; a 100 TB training pipeline decodes those blobs
  * partition-batched exactly like this (swap the PNG reader for a JNI
  * image/video codec — the contract is identical).
  */
object MediaQueries {

  val defs: Seq[(String, QueryDef)] = Seq(

    // q101: REAL image decode — render a deterministic 16x16 gray PNG per
    // document (JDK PNG encoder), decode it back (JDK PNG decoder), and
    // reduce to 4x4-grid mean-luminance cells. Cell means are sums of 16
    // integer pixels / 16 -> exact doubles, so the oracle (which never
    // sees a PNG) hash-matches iff the codec round trip is lossless.
    // Map-only end to end: render, decode and featurize are one fused
    // narrow stage — no shuffle at any scale.
    "q101_image_decode" -> QueryDef.of(
      """WITH px AS (
        |  SELECT doc_id, x, y, (doc_id * 31 + x * 7 + y * 13) % 256 AS v
        |  FROM documents, range(0, 16) rx(x), range(0, 16) ry(y)
        |)
        |SELECT doc_id AS id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST((y // 4) * 4 + (x // 4) AS INT) AS cell,
        |  CAST(sum(v) AS DOUBLE) / 16 AS mean_lum
        |FROM px GROUP BY doc_id, cell
        |""".stripMargin) { (s, dir) =>
      // lesson-4 compute spread (r11, measured): documents is ONE parquet
      // row group locally, so render+decode+featurize ran as a single
      // ~1.1 s task (zero-shuffle plan). The exchange carries ONLY the
      // 8-byte ids; the codec work dominates at any scale, and on a real
      // corpus the blob scan has many splits so this spread is free.
      val ids = Tables.documents(s, dir).select(col("doc_id").as("id"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("id")))
      val media = MediaCodec.renderPng(s, ids, w = 16, h = 16)
      MediaCodec.imageGridFeatures(s, media, grid = 4).toDF()
    },

    // q102: REAL audio decode — build a canonical mono 16-bit PCM WAV per
    // document (1024 deterministic samples), parse it through AudioSystem
    // (header + endianness + PCM extraction), and reduce to per-256-sample
    // windows: mean square (sum of int squares / 256 -> exact double) and
    // intra-window zero crossings. Same lossless-round-trip oracle logic
    // as q101; same map-only plan shape.
    "q102_audio_decode" -> QueryDef.of(
      """WITH s AS (
        |  SELECT doc_id, t, (doc_id * 131 + t * 31) % 2003 - 1001 AS v
        |  FROM documents, range(0, 1024) r(t)
        |), p AS (
        |  SELECT doc_id, t, v, t // 256 AS frame,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        |  FROM s
        |)
        |SELECT doc_id AS id, CAST(1024 AS BIGINT) AS n_samples, CAST(frame AS INT) AS frame,
        |  CAST(sum(CAST(v AS BIGINT) * v) AS DOUBLE) / 256 AS mean_square,
        |  CAST(count(*) FILTER (WHERE t % 256 <> 0 AND pv * v < 0) AS BIGINT) AS zero_cross
        |FROM p GROUP BY doc_id, frame
        |""".stripMargin) { (s, dir) =>
      // r11: NO spread here — measured 0.32 s single-task vs 0.87-1.03 s
      // spread: the WAV decode is cheap per row and javax.sound's
      // service-provider lookup serializes 32 concurrent tasks on shared
      // locks, so the spread only added contention + an exchange.
      val ids = Tables.documents(s, dir).select(col("doc_id").as("id"))
      val media = MediaCodec.renderWav(s, ids, n = 1024, sampleRate = 8000)
      MediaCodec.audioFrameFeatures(s, media, window = 256).toDF()
    },

    // q128: REAL video decode + frame sampling — an 8-frame animated GIF
    // per document through the JDK's real GIF sequence encoder, decoded
    // back frame-by-frame (ImageReader multi-image API) with every 2nd
    // frame SAMPLED to mean luminance. Closes the multimodal family's
    // last stub: GIF is the one genuine frame-sequence codec the JDK
    // ships, and with an explicit 256-gray palette (index == gray value)
    // the round trip is bit-exact, so the oracle — which never sees a
    // GIF — hash-matches iff encoder, frame index, frame count and
    // decoder all agree. 16x16 frames keep cell means exact (sum/256).
    // Map-only end to end, like q101/q102.
    "q128_video_frames" -> QueryDef.of(
      """WITH px AS (
        |  SELECT doc_id, f, (doc_id * 31 + f * 17 + x * 7 + y * 13) % 256 AS v
        |  FROM documents, range(0, 8) rf(f), range(0, 16) rx(x), range(0, 16) ry(y)
        |  WHERE f % 2 = 0
        |)
        |SELECT doc_id AS id, CAST(8 AS INT) AS n_frames, CAST(f AS INT) AS frame,
        |  CAST(sum(v) AS DOUBLE) / 256 AS mean_lum
        |FROM px GROUP BY doc_id, f
        |""".stripMargin) { (s, dir) =>
      val ids = Tables.documents(s, dir).select(col("doc_id").as("id"))
        .transform(graft.operators.Relational.spreadForCompute(_, col("id"))) // q101's spread note
      val media = MediaCodec.renderGif(s, ids, w = 16, h = 16, nFrames = 8)
      MediaCodec.videoFrameFeatures(s, media, stride = 2).toDF()
    }
  )
}
