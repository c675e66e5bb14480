package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GQuery
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All capabilities are declared as [[graft.core.GQuery]] values grouped by
  * suite; this object just flattens the registry into the maps the driver
  * consumes (duplicate names fail fast in `GQuery.registry`).
  */
object SparkEntry {

  /** DuckDB rolling checksum over the UTF-8 octets of a payload, exactly
    * mirroring [[graft.operators.Multimodal.payloadChecksum]]'s
    * `(cs·31 + byte) mod 1e9+7` over `text.cast("binary")`. Expects the
    * enclosing CTE to provide `h = hex(encode(text))` and
    * `n_bytes = octet_length(encode(text))`; each byte is decoded from
    * its hex pair, so multi-byte characters and newlines contribute the
    * same octets on both sides. */
  private val octetChecksumSql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, n_bytes), i ->
      |        CAST((strpos('0123456789ABCDEF', substring(h, 2*i+1, 1)) - 1) * 16
      |           + (strpos('0123456789ABCDEF', substring(h, 2*i+2, 1)) - 1) AS BIGINT))),
      |      (acc, b) -> (acc*31 + b) % 1000000007)""".stripMargin

  val registry: Seq[GQuery] = GQuery.registry(
    Relational.defs,
    TpchShapes.defs,
    ThemisOps.defs,
    TextPipeline.defs,
    Similarity.defs,
    Iterative.defs,
    SortOps.defs,
    GraphText.defs,
    Temporal.defs,
    Tokenizer.defs,
    Cdc.defs,
    Retrieval.defs,
    Mixing.defs,
    Curation.defs,
    Sketches.defs,
    Analytics.defs,
    Ingest.defs,
    // the decode stub folds over the payload's UTF-8 OCTETS, and the
    // oracle now folds the exact same octets: it walks hex(encode(text))
    // two characters at a time (hex computed once per row in the CTE),
    // so non-ASCII text and embedded newlines hash identically on both
    // sides — no code-point/regexp divergence. Proven on a non-ASCII
    // fixture by MultimodalSpec + tools/nonascii_fixture.py.
    Seq(GQuery("q_media_features",
      graft.operators.Multimodal.mediaFeatureStats _,
      Some(s"""WITH h0 AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
        |    n_bytes,
        |    $octetChecksumSql AS checksum,
        |    (n_bytes + 63) // 64 AS n_frames
        |  FROM h0)
        |SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(SUM(checksum % 1000000007) AS BIGINT) AS checksum,
        |  CAST(SUM(n_frames) AS BIGINT) AS n_frames
        |FROM f GROUP BY kind""".stripMargin))),
    // the embedding stub derives 8 milli-scaled coords from the payload's
    // rolling octet checksum; the oracle re-derives the same sum from the
    // same octets (batch shapes are partitioning-dependent →
    // spec-asserted, not oracle-compared)
    Seq(GQuery("q_embed_batch",
      graft.operators.Multimodal.embedBatchStats _,
      Some(s"""WITH h0 AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
        |    $octetChecksumSql AS checksum
        |  FROM h0)
        |SELECT kind, COUNT(*) AS n_media,
        |  CAST(SUM(list_sum(list_transform([0,1,2,3,4,5,6,7],
        |    j -> (checksum + j * 2654435761) % 1000))) AS BIGINT) AS emb_checksum
        |FROM f GROUP BY kind""".stripMargin))),
    // REAL codec decode (r14): payloads rendered from closed-form
    // pixel/sample laws, encoded with the JDK's actual codecs (DEFLATE
    // PNG via ImageIO; RIFF/WAVE PCM-16), decoded back with the real
    // decoder, and the DECODED values aggregated — the oracle recomputes
    // the same aggregates arithmetically, so an encode defect, decode
    // defect, or lossy round-trip fails the hash compare. Video decode
    // alone remains behind Multimodal.decodeStub (no JDK video codec).
    Seq(GQuery("q_image_decode",
      graft.operators.RealCodec.imageDecodeStats _,
      Some(graft.operators.RealCodec.imageDecodeOracle), headline = true)),
    Seq(GQuery("q_audio_decode",
      graft.operators.RealCodec.audioDecodeStats _,
      Some(graft.operators.RealCodec.audioDecodeOracle))),
    // REAL DSP: linear-interpolation rate normalization (both
    // directions), integer-exact, re-encoded header under test
    Seq(GQuery("q_audio_resample",
      graft.operators.RealCodec.audioResampleStats _,
      Some(graft.operators.RealCodec.audioResampleOracle))),
    // REAL raster resize: decode -> nearest-neighbor resample to the
    // fixed model-input shape -> positional-checksum census
    Seq(GQuery("q_image_resize",
      graft.operators.RealCodec.imageResizeStats _,
      Some(graft.operators.RealCodec.imageResizeOracle))),
    // blur/sharpness filter dial: variance-of-Laplacian over decoded
    // rasters, integer-exact stencil sums
    Seq(GQuery("q_image_sharpness",
      graft.operators.RealCodec.imageSharpnessStats _,
      Some(graft.operators.RealCodec.imageSharpnessOracle))),
    // augmentation: flip/rotate coordinate permutations of decoded
    // rasters; the positional checksum pins pixels to permuted coords
    Seq(GQuery("q_image_augment",
      graft.operators.RealCodec.imageAugmentStats _,
      Some(graft.operators.RealCodec.imageAugmentOracle))),
    // dedup extended to the image modality: dHash perceptual fingerprints
    // over REAL decoded pixels, keep-first groups bit-identical to the
    // oracle's law-resampled BIGINT packing (sign bit included)
    // headline: the real-codec scan is a new hot-path class (JDK codec
    // in the task loop) — bench-tracked so a codec-path regression moves
    // a recorded number, same stance as the ANN/recall telemetry
    Seq(GQuery("q_image_dhash",
      graft.operators.RealCodec.imageDHashCensus _,
      Some(graft.operators.RealCodec.imageDHashOracle), headline = true)),
    // the crawl-vs-history serve shape on the perceptual fingerprint.
    // headline: perfbench's deferred_s splits the index build (the
    // one-time history decode inside the deferred stage) from the timed
    // serve leg, so "serve decode work ∝ batch" is a recorded number
    // every run, not prose
    Seq(GQuery("q_image_dedup_serve",
      graft.operators.RealCodec.imageDedupServe _,
      Some(graft.operators.RealCodec.imageDedupServeOracle),
      headline = true)),
    // NEAR-dup images (0 < Hamming <= 3 on dHash) via the SimHash Manku
    // banding over DISTINCT fingerprints; the oracle brute-forces the
    // same pairs, so banding exhaustiveness is oracle-tested
    Seq(GQuery("q_image_neardup",
      graft.operators.RealCodec.imageNearDupCensus _,
      Some(graft.operators.RealCodec.imageNearDupOracle))),
    // the audio twin: energy-contour fingerprint from REAL-parsed PCM,
    // keep-first census like q_image_dhash
    Seq(GQuery("q_audio_fingerprint",
      graft.operators.RealCodec.audioFingerprintCensus _,
      Some(graft.operators.RealCodec.audioFingerprintOracle))),
    // audio near-dup through the SAME banding+census body as images
    // (nearDupCensus); the oracle brute-forces the audio law, so the
    // shared body is exhaustiveness-tested per modality
    Seq(GQuery("q_audio_neardup",
      graft.operators.RealCodec.audioNearDupCensus _,
      Some(graft.operators.RealCodec.audioNearDupOracle))),
    // the audio serve leg riding the persisted-fingerprint-index shape
    // (DeferredIngest parquet stage, read back — decode work ∝ batch)
    Seq(GQuery("q_audio_dedup_serve",
      graft.operators.RealCodec.audioDedupServe _,
      Some(graft.operators.RealCodec.audioDedupServeOracle))),
    // REAL video decode (r15): a genuine AVI container (RIFF hdrl/movi/
    // idx1, fully cross-checked) of uncompressed DIB frames, each frame
    // re-framed as BMP and decoded through the JDK's actual BMP codec —
    // no modality is stubbed any more. headline: the container-walk +
    // per-frame-decode loop is its own hot-path class, bench-tracked
    // like q_image_decode
    Seq(GQuery("q_video_decode",
      graft.operators.VideoCodec.videoDecodeStats _,
      Some(graft.operators.VideoCodec.videoDecodeOracle), headline = true)),
    // per-frame perceptual dedup: dHash over REAL-decoded AVI frames,
    // keep-first census via the shared body (cross-video frame dedup)
    Seq(GQuery("q_video_dhash",
      graft.operators.VideoCodec.videoDHashCensus _,
      Some(graft.operators.VideoCodec.videoDHashOracle))),
    // video near-dup + serve through the SAME shared bodies as the
    // image/audio twins — per-modality brute-force/split oracles
    Seq(GQuery("q_video_neardup",
      graft.operators.VideoCodec.videoNearDupCensus _,
      Some(graft.operators.VideoCodec.videoNearDupOracle))),
    Seq(GQuery("q_video_dedup_serve",
      graft.operators.VideoCodec.videoDedupServe _,
      Some(graft.operators.VideoCodec.videoDedupServeOracle))),
    // temporal continuity: consecutive-frame perceptual distance, the
    // scene-cut/keyframe primitive before frame sampling
    Seq(GQuery("q_video_scenes",
      graft.operators.VideoCodec.videoSceneCensus _,
      Some(graft.operators.VideoCodec.videoSceneOracle))),
    Seq(GQuery("q_frame_sample",
      graft.operators.Multimodal.frameSample _,
      Some("""WITH m AS (
        |  SELECT doc_id AS media_id,
        |    ['image','audio','video'][(doc_id % 3) + 1] AS kind,
        |    text AS content
        |  FROM documents),
        |f AS (
        |  SELECT media_id, kind, j.j AS frame_idx,
        |    substring(content, j.j * 64 + 1, 64) AS frame
        |  FROM m CROSS JOIN range(512) j(j)
        |  WHERE j.j <= (length(content) - 1) // 64)
        |SELECT kind, COUNT(*) AS n_frames,
        |  COUNT(DISTINCT frame) AS n_distinct_frames,
        |  CAST(MAX(frame_idx) AS BIGINT) AS max_frame_idx,
        |  CAST(SUM(CAST('0x' || substring(md5(frame),1,15) AS BIGINT) % 1000000007) AS BIGINT) AS frame_checksum
        |FROM f GROUP BY kind""".stripMargin))))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Names perfbench times (each workload runs a subset). */
  def headlines: Seq[String] = registry.filter(_.headline).map(_.name)
}
