package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.multimodal.Multimodal
import graft.streaming.EventsStreaming

/** Streaming + multimodal surface: a real Structured Streaming query (file
  * source → watermark → windowed agg → memory sink) checked against a batch
  * DuckDB oracle, batch sessionization with an oracle, and the multimodal
  * binary-column plumbing (stub codec → rows-only).
  */
object StreamMultimodalQueries extends QueryFamily {

  /** DuckDB twin of q32, generated at Verify time (q39's literal-injection
    * pattern). Both codec paths — ImageIoCodec and its stub fallback — are
    * deterministic pure functions of the payload bytes, so the oracle runs
    * the SAME codec driver-side over the documents table (bounded: the
    * verify corpus is 500 rows) and injects the expected rows as a VALUES
    * literal. What this verifies is exactly the distributed part: the
    * batched mapPartitions plumbing must deliver every record to the codec
    * once, unmangled, against driver-computed ground truth. Spark's
    * `round(col, 6)` on DOUBLE is BigDecimal.valueOf + HALF_UP — replicated
    * here so the injected literal is the bit-identical double Spark emits
    * (Double.toString round-trips exactly, like q27's planes). */
  private def multimodalOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect()
      .map { r =>
        val id = r.getLong(0)
        val bytes = r.getString(1)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val (w, h, mean, feats) = Multimodal.ImageIoCodec.decode(bytes)
        val rounded = java.math.BigDecimal.valueOf(mean)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        s"($id, $w, $h, $rounded, ${feats.length})"
      }
    s"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             'image' AS kind,
             CAST(width AS INTEGER) AS width,
             CAST(height AS INTEGER) AS height,
             CAST(mean_intensity AS DOUBLE) AS mean_intensity,
             CAST(feature_dim AS INTEGER) AS feature_dim
      FROM (VALUES ${rows.mkString(", ")})
        t(media_id, width, height, mean_intensity, feature_dim)
      ORDER BY media_id"""
  }

  private val q32 = QueryDef(
    "q32_multimodal_features",
    "Multimodal plumbing: documents' bytes as BINARY media with typed " +
      "metadata, batched per-partition feature extraction (mapInPandas-" +
      "style batch shape). Real imageio decode for PNG/JPEG; these " +
      "synthetic text-bytes take the deterministic stub fallback. Oracle " +
      "generated at Verify time: the same deterministic codec runs " +
      "driver-side and injects expected rows as literals (q39's pattern); " +
      "decode goldens + batching additionally pinned in MultimodalSpec.",
    (s, dir) => {
      val media = Multimodal.attach(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes")),
        "doc_id", "bytes", kind = "image", mime = "image/fake")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          round(col("meanIntensity"), 6).as("mean_intensity"),
          size(col("features")).as("feature_dim"))
        .orderBy("media_id")
    },
    None,
    oracleGen = Some(multimodalOracle))

  /** q90's deterministic payload recipe, shared by the query and its
    * oracle: REAL WAV bytes synthesized from each doc_id (seeded sine +
    * LCG noise, PCM16 mono — [[Multimodal.synthWav]] is a pure function),
    * so the javax.sound decode path runs on genuinely decodable audio,
    * not the stub. Sample count varies per doc so durations differ. */
  private def q90Wav(docId: Long): Array[Byte] =
    Multimodal.synthWav(seed = docId,
      nSamples = 800 + (docId % 40).toInt * 100, sampleRate = 8000)

  /** DuckDB twin of q90, generated at Verify time: the same synthWav →
    * WavCodec pipeline runs driver-side (bounded: 500-row verify corpus)
    * and injects expected rows as VALUES literals — q32's pattern. What
    * the comparison verifies is the distributed plumbing: every record
    * through the batched decoder once, unmangled. */
  private def audioOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .map { r =>
        val id = r.getLong(0)
        val (sr, ch, dur, rms, feats) = Multimodal.WavCodec.decode(q90Wav(id))
        val rounded = java.math.BigDecimal.valueOf(rms)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        s"($id, $sr, $ch, $dur, $rounded, ${feats.length})"
      }
    s"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             'audio' AS kind,
             CAST(sample_rate AS INTEGER) AS sample_rate,
             CAST(channels AS INTEGER) AS channels,
             CAST(duration_ms AS BIGINT) AS duration_ms,
             CAST(rms AS DOUBLE) AS rms,
             CAST(feature_dim AS INTEGER) AS feature_dim
      FROM (VALUES ${rows.mkString(", ")})
        t(media_id, sample_rate, channels, duration_ms, rms, feature_dim)
      ORDER BY media_id"""
  }

  private val q90 = QueryDef(
    "q90_audio_features",
    "Second multimodal kind: REAL WAV audio decode (javax.sound.sampled, " +
      "public JDK — the imageio discipline) behind the same batched " +
      "per-partition operator as images. Payloads are deterministic " +
      "synthesized PCM16 WAVs per doc_id; the codec streams samples " +
      "through a fixed 8 KiB buffer (O(1) memory per record) extracting " +
      "format metadata, duration, RMS and a 16-bin energy envelope. " +
      "Oracle generated at Verify time by replaying the same pure " +
      "synth+decode driver-side (q32's pattern).",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      // Widened before the synth map: one-file scan = one synth task
      // otherwise (graft.core.Par scaladoc).
      val payloads = graft.core.Par.widen(
          Tables.load(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, q90Wav(id))).toDF("doc_id", "bytes")
      val media = Multimodal.attach(payloads,
        "doc_id", "bytes", kind = "audio", mime = "audio/wav")
      Multimodal.extractAudioFeatures(media).toDF()
        .select(col("media_id"), col("kind"),
          col("sampleRate").as("sample_rate"),
          col("channels"), col("durationMs").as("duration_ms"),
          round(col("rms"), 6).as("rms"),
          size(col("features")).as("feature_dim"))
        .orderBy("media_id")
    },
    None,
    oracleGen = Some(audioOracle))

  /** q95's deterministic video recipe (q90's pattern): real PNG frames
    * in the GFV1 container, frame count varying per doc. */
  private def q95Video(docId: Long): Array[Byte] =
    Multimodal.synthVideo(seed = docId,
      nFrames = 3 + (docId % 6).toInt, fps = 4)

  private def videoOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .map { r =>
        val id = r.getLong(0)
        val (w, h, n, dur, mean, feats) =
          Multimodal.VideoCodec.decode(q95Video(id))
        val rounded = java.math.BigDecimal.valueOf(mean)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        s"($id, $w, $h, $n, $dur, $rounded, ${feats.length})"
      }
    s"""
      SELECT CAST(media_id AS BIGINT) AS media_id,
             'video' AS kind,
             CAST(width AS INTEGER) AS width,
             CAST(height AS INTEGER) AS height,
             CAST(n_frames AS INTEGER) AS n_frames,
             CAST(duration_ms AS BIGINT) AS duration_ms,
             CAST(mean_intensity AS DOUBLE) AS mean_intensity,
             CAST(feature_dim AS INTEGER) AS feature_dim
      FROM (VALUES ${rows.mkString(", ")})
        t(media_id, width, height, n_frames, duration_ms, mean_intensity,
          feature_dim)
      ORDER BY media_id"""
  }

  private val q95 = QueryDef(
    "q95_video_features",
    "Third multimodal kind: video as a deterministic length-prefixed " +
      "PNG-frame container (GFV1 — no public-JDK video demuxer exists, " +
      "so the demux is ours; every frame decode is the REAL javax.imageio " +
      "path) behind the same batched per-partition operator: true frame " +
      "dims, frame count, fps duration, mean luminance, 16-bin temporal " +
      "luminance envelope. Oracle replays the same synth+decode " +
      "driver-side (q32/q90's pattern). Real frame EXTRACTION " +
      "(sampleVideoFrames) is spec-pinned in MultimodalSpec.",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      // Widened before the synth map (q90's rationale).
      val payloads = graft.core.Par.widen(
          Tables.load(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(id => (id, q95Video(id))).toDF("doc_id", "bytes")
      val media = Multimodal.attach(payloads,
        "doc_id", "bytes", kind = "video", mime = "video/x-graft-frames")
      Multimodal.extractVideoFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("nFrames").as("n_frames"),
          col("durationMs").as("duration_ms"),
          round(col("meanIntensity"), 6).as("mean_intensity"),
          size(col("features")).as("feature_dim"))
        .orderBy("media_id")
    },
    None,
    oracleGen = Some(videoOracle))

  private val q33 = QueryDef(
    "q33_stream_windowed_agg",
    "Structured Streaming: events replayed through a file-source stream " +
      "(Trigger.AvailableNow) into 5-minute tumbling windows per event_type " +
      "with watermark; memory sink. Oracle = the same aggregation in batch " +
      "DuckDB (time_bucket aligns to the same epoch grid as Spark windows).",
    (s, dir) => EventsStreaming.runWindowedAggAvailableNow(s, dir)
      .orderBy("window_start", "event_type"),
    Some("""
      SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type, count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""))

  private val q34 = QueryDef(
    "q34_sessionize",
    "Gap-based sessionization (30-min inactivity) per user via lag/cumsum " +
      "windows; per-user session counts and sizes. The streaming twin " +
      "(flatMapGroupsWithState) is equivalence-tested in StreamingSpec.",
    (s, dir) => EventsStreaming.sessionStats(
        Tables.load(s, dir, "events"), gapMinutes = 30)
      .orderBy("user_id"),
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events),
      s AS (
        SELECT user_id, event_id,
               SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END) OVER
                 (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_idx
        FROM e),
      per_session AS (
        SELECT user_id, session_idx, count(*) AS n_events
        FROM s GROUP BY 1, 2)
      SELECT user_id,
             CAST(max(session_idx) AS INTEGER) AS n_sessions,
             max(n_events) AS max_session_events,
             CAST(SUM(n_events) AS BIGINT) AS n_events
      FROM per_session
      GROUP BY user_id
      ORDER BY user_id"""))

  private val q82 = QueryDef(
    "q82_stream_append_windows",
    "Append-mode streaming windowed agg — the bounded-state production " +
      "twin of q33: watermark-closed 5-minute windows emitted exactly " +
      "once to a parquet file sink with a checkpoint; state is bounded " +
      "by the watermark delay instead of holding every window forever. " +
      "Oracle = batch windows restricted to the closed subset " +
      "(window end <= max event time - 10 min, at Spark's millisecond " +
      "watermark granularity).",
    (s, dir) => {
      def tmp(p: String) =
        graft.core.TempDirs.create(p).toString
      EventsStreaming.runWindowedAggAppend(s, dir,
          tmp("graft-q82-out"), tmp("graft-q82-ck"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      WITH wm AS (
        SELECT epoch_ms(max(ts)) - 600000 AS cutoff_ms FROM events),
      w AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2)
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, n, sum_value
      FROM w, wm
      WHERE epoch_ms(ws) + 300000 <= cutoff_ms
      ORDER BY window_start, event_type"""))

  /** q100's deterministic image recipe, shared by query and oracle:
    * 50 pattern clusters; within a cluster, variants differ by a
    * uniform brightness lift (dHash distance 0) or one inverted grid
    * cell (distance <= 2) — the re-export / small-edit duplicates an
    * image dedup pass exists to catch. */
  private def q100Png(docId: Long): Array[Byte] =
    Multimodal.synthImage(seed = docId % 50,
      brightness = ((docId / 50) % 3).toInt * 8,
      tweak = (docId / 50) % 2 == 1)

  /** DuckDB twin of q100, generated at Verify time: the same synthImage →
    * DHashCodec pipeline runs driver-side (bounded: the verify corpus),
    * injects (id, hash) literals, and DuckDB replays the PAIR PREDICATE
    * itself — bit_count(xor(...)) has identical two's-complement
    * semantics on both engines — so the banded join must produce exactly
    * the all-pairs answer at the radius. */
  private def imageDedupOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .map { r =>
        val id = r.getLong(0)
        s"($id, CAST(${Multimodal.DHashCodec.dhash(q100Png(id))} AS BIGINT))"
      }
    s"""
      WITH h(media_id, dhash) AS (VALUES ${rows.mkString(", ")})
      SELECT CAST(a.media_id AS BIGINT) AS id_a,
             CAST(b.media_id AS BIGINT) AS id_b,
             CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
      FROM h a JOIN h b
        ON a.media_id < b.media_id
       AND bit_count(xor(a.dhash, b.dhash)) <= 4
      ORDER BY id_a, id_b"""
  }

  private val q100 = QueryDef(
    "q100_image_neardup",
    "Image near-dup dedup via perceptual hashing: REAL PNG decode -> " +
      "64-bit dHash (area-averaged 9x8 grid, horizontal gradient bits — " +
      "invariant to the uniform brightness shifts and re-encodes that " +
      "defeat byte checksums) in the batched per-partition codec shape, " +
      "then hamming <= 4 pairs by pigeonhole banding (5 bands; a pair " +
      "inside the radius agrees exactly on one band) — an equi-join, " +
      "never all-pairs. The generated oracle replays the predicate over " +
      "driver-computed hashes, so a missed candidate (banding bug) or " +
      "phantom pair breaks the match.",
    (s, dir) => {
      graft.operators.Dedup.hammingPairs64(
          s.read.parquet(signaturesFor(s, dir) + "/image"),
          "media_id", "dhash", maxHamming = 4)
        .orderBy("id_a", "id_b")
    },
    None,
    oracleGen = Some(imageDedupOracle))

  /** One signature build per sf dir (the q89 index convention): the
    * synth + decode + hash pass over every payload is the CORPUS-SIDE
    * one-off an image/audio/video dedup pipeline runs once and persists
    * (its cost is Bench's `media_sig_build_sec`); the dedup QUERIES then
    * measure what they exist to measure — the banded pair joins over the
    * persisted signature tables. */
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def signaturesFor(s: SparkSession, dir: String): String =
    sigCache.computeIfAbsent(dir, _ => {
      import s.implicits._
      val root = graft.core.TempDirs.create("graft-media-sigs").toString
      // Widened: the three signature passes below are synth+decode+hash
      // kernels over every payload — one-file scan = one task otherwise.
      val ids = graft.core.Par.widen(
        Tables.load(s, dir, "documents").select(col("doc_id")))
      ids.map(r => (r.getLong(0),
          Multimodal.DHashCodec.dhash(q100Png(r.getLong(0)))))
        .toDF("media_id", "dhash")
        .write.parquet(s"$root/image")
      ids.map(r => (r.getLong(0),
          Multimodal.AudioFingerprint.fingerprint(q103Wav(r.getLong(0)))))
        .toDF("media_id", "fp")
        .write.parquet(s"$root/audio")
      Multimodal.sampleVideoFrames(
          Multimodal.attach(
            ids.map(r => (r.getLong(0), q102Video(r.getLong(0))))
              .toDF("doc_id", "bytes"),
            "doc_id", "bytes", kind = "video", mime = "video/gfv1"),
          everyN = 1)
        .map(f => (f.media_id, f.frame_idx,
          Multimodal.DHashCodec.dhash(f.content)))
        .toDF("media_id", "frame_idx", "fhash")
        .write.parquet(s"$root/video")
      root
    })

  /** q102's deterministic video recipe: 30 pattern clusters of 4-frame
    * videos; variants differ per-frame by the same brightness lift /
    * cell tweak as the image corpus. */
  private def q102Video(docId: Long): Array[Byte] =
    Multimodal.synthVideoPatterned(seed = docId % 30, nFrames = 4,
      brightness = ((docId / 30) % 3).toInt * 8,
      tweak = (docId / 30) % 2 == 1)

  private def videoDedupOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .flatMap { r =>
        val id = r.getLong(0)
        val Some((_, frames)) = Multimodal.VideoCodec.frames(q102Video(id))
        frames.zipWithIndex.map { case (png, i) =>
          s"($id, $i, CAST(${Multimodal.DHashCodec.dhash(png)} AS BIGINT))"
        }
      }
    s"""
      WITH f(media_id, frame_idx, fhash) AS (VALUES ${rows.mkString(", ")}),
      m AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               bit_count(xor(a.fhash, b.fhash)) AS h
        FROM f a JOIN f b
          ON a.media_id < b.media_id
         AND a.frame_idx = b.frame_idx
         AND bit_count(xor(a.fhash, b.fhash)) <= 4)
      SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
             CAST(count(*) AS BIGINT) AS n_matching,
             CAST(max(h) AS INTEGER) AS max_hamming
      FROM m
      GROUP BY id_a, id_b
      HAVING count(*) >= 3
      ORDER BY id_a, id_b"""
  }

  private val q102 = QueryDef(
    "q102_video_neardup",
    "Video near-dup dedup: every sampled frame dHashed (real per-frame " +
      "PNG decode), frames pair only at the SAME index via the banded " +
      "hamming join's extra equi-key, and a video pair is a dup when " +
      ">= 3 of its 4 aligned frames land within radius 4 — frame " +
      "voting, so one corrupt frame can't split a dup and one " +
      "coincidental frame can't fake one. Oracle replays per-frame " +
      "hashes and the vote in DuckDB.",
    (s, dir) => {
      graft.operators.Dedup.videoNearDupPairs(
          s.read.parquet(signaturesFor(s, dir) + "/video"),
          "media_id", "frame_idx", "fhash",
          maxHamming = 4, minMatching = 3)
        .orderBy("id_a", "id_b")
    },
    None,
    oracleGen = Some(videoDedupOracle))

  /** q103's deterministic audio recipe: 40 waveform clusters (fixed
    * sample count per cluster so envelope bins align); odd variants are
    * the SAME recording re-levelled to half amplitude — the gain change
    * the fingerprint's adjacent-bin comparisons are invariant to. */
  private def q103Wav(docId: Long): Array[Byte] = {
    val cluster = docId % 40
    val base = Multimodal.synthWav(seed = cluster,
      nSamples = 3200 + (cluster % 5).toInt * 800, sampleRate = 8000)
    if ((docId / 40) % 2 == 1) Multimodal.scaleWavAmplitude(base, 1, 2)
    else base
  }

  private def audioDedupOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .map { r =>
        val id = r.getLong(0)
        s"($id, CAST(${Multimodal.AudioFingerprint.fingerprint(q103Wav(id))} AS BIGINT))"
      }
    s"""
      WITH h(media_id, fp) AS (VALUES ${rows.mkString(", ")})
      SELECT CAST(a.media_id AS BIGINT) AS id_a,
             CAST(b.media_id AS BIGINT) AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
      FROM h a JOIN h b
        ON a.media_id < b.media_id
       AND bit_count(xor(a.fp, b.fp)) <= 6
      ORDER BY id_a, id_b"""
  }

  private val q103 = QueryDef(
    "q103_audio_neardup",
    "Audio near-dup dedup: streaming PCM decode to a 64-bit envelope " +
      "fingerprint (65 mean-|amplitude| bins, bit = adjacent-bin " +
      "comparison — invariant to uniform gain changes, the audio " +
      "analogue of dHash's brightness invariance; exact integer " +
      "cross-multiplied compares), pairs at hamming <= 6 by the banded " +
      "join. Odd variants are re-levelled half-amplitude copies whose " +
      "fingerprints sit a truncation-noise distance from their " +
      "originals. Oracle replays the predicate over driver-computed " +
      "fingerprints.",
    (s, dir) => {
      graft.operators.Dedup.hammingPairs64(
          s.read.parquet(signaturesFor(s, dir) + "/audio"),
          "media_id", "fp", maxHamming = 6)
        .orderBy("id_a", "id_b")
    },
    None,
    oracleGen = Some(audioDedupOracle))

  private def imageClusterOracle(s: SparkSession, dir: String): String = {
    val rows = Tables.load(s, dir, "documents")
      .select(col("doc_id")).collect()
      .map { r =>
        val id = r.getLong(0)
        s"($id, CAST(${Multimodal.DHashCodec.dhash(q100Png(id))} AS BIGINT))"
      }
    s"""
      WITH RECURSIVE
      h(media_id, dhash) AS (VALUES ${rows.mkString(", ")}),
      dup AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b
        FROM h a JOIN h b
          ON a.media_id < b.media_id
         AND bit_count(xor(a.dhash, b.dhash)) <= 4),
      edges AS (SELECT id_a AS src, id_b AS dst FROM dup
                UNION
                SELECT id_b AS src, id_a AS dst FROM dup),
      walk(id, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id)
      SELECT CAST(id AS BIGINT) AS media_id,
             CAST(min(comp) AS BIGINT) AS cluster_id,
             CAST(id = min(comp) AS BOOLEAN) AS is_canonical
      FROM walk
      GROUP BY id
      ORDER BY media_id"""
  }

  private val q104 = QueryDef(
    "q104_image_dup_clusters",
    "Canonical selection over image near-dups (the step after q100 that " +
      "actually SHRINKS the corpus): connected components over the " +
      "banded dHash pair set — size-adaptive min-label resolution, " +
      "q49's machinery on perceptual edges — with cluster_id = smallest " +
      "member and is_canonical marking the one copy training keeps. " +
      "Oracle: recursive-CTE label flood over the same driver-computed " +
      "hashes' pair predicate.",
    (s, dir) => {
      val pairs = graft.operators.Dedup.hammingPairs64(
        s.read.parquet(signaturesFor(s, dir) + "/image"),
        "media_id", "dhash", maxHamming = 4)
      graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("media_id"), col("comp").as("cluster_id"),
          (col("id") === col("comp")).as("is_canonical"))
        .orderBy("media_id")
    },
    None,
    oracleGen = Some(imageClusterOracle))

  private val q124 = QueryDef(
    "q124_stream_join",
    "Stream-STREAM interval join (attribution): the events parquet " +
      "replayed as a file-source stream, split into watermarked click " +
      "and purchase sides, inner-joined per user on a 30-minute " +
      "attribution window (p.ts in [c.ts, c.ts + 30 min)), append mode " +
      "into a memory sink. The time-range condition + both-side " +
      "watermarks make the join state provably bounded — " +
      "O(rate x (window + lateness)) instead of both streams — and " +
      "with a lateness budget covering the replay the streamed pairs " +
      "are bit-identical to the batch join, which is exactly what the " +
      "DuckDB oracle replays.",
    (s, dir) => graft.streaming.StreamingJoin
      .runAttributionAvailableNow(s, dir, windowMinutes = 30)
      .orderBy("user_id", "click_id", "purchase_id"),
    Some("""
      SELECT c.user_id AS user_id, c.event_id AS click_id,
             p.event_id AS purchase_id,
             CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
               AS lag_sec
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
      ORDER BY c.user_id, click_id, purchase_id"""))

  private val q125 = QueryDef(
    "q125_stream_join_outer",
    "LEFT OUTER stream-stream join (conversion funnel): q124's " +
      "attribution join, but every click surfaces — matched pairs emit " +
      "eagerly, an UNMATCHED click emits once with NULLs when the " +
      "watermark closes its window (the engine must know no purchase " +
      "can still arrive). A bounded replay therefore leaves the final " +
      "delay+window of clicks unemitted, and the global watermark is " +
      "the MIN across the two sides' own event-time maxima (each " +
      "watermark node sees only its filtered rows) — the oracle " +
      "replays the batch left join restricted to exactly that " +
      "closed-click subset.",
    (s, dir) => graft.streaming.StreamingJoin
      .runAttributionOuterAvailableNow(s, dir, windowMinutes = 30,
        delay = "10 minutes")
      .orderBy("user_id", "click_id", "purchase_id"),
    Some("""
      WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      wm AS (
        SELECT least((SELECT epoch_ms(max(ts)) FROM c),
                     (SELECT epoch_ms(max(ts)) FROM p))
               - 600000 - 1800000 AS cutoff_ms)
      SELECT c.user_id AS user_id, c.event_id AS click_id,
             p.event_id AS purchase_id,
             CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
               AS lag_sec
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE, wm
      WHERE p.event_id IS NOT NULL OR epoch_ms(c.ts) < wm.cutoff_ms
      ORDER BY user_id, click_id, purchase_id"""))

  override val defs: Seq[QueryDef] =
    Seq(q32, q33, q34, q82, q90, q95, q100, q102, q103, q104, q124, q125)
}
