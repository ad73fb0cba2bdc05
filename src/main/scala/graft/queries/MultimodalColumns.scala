package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.llm.{Dedup, Multimodal}
import graft.operators.Ops

import SparkEntry.{t, toksSql}
import Case.oracle

/** North-star multimodal columns (image, audio, video features and
  * codecs), plus the queries registered after them: DSIR, PQ/SQ codes,
  * quality gates, PageRank, funnels, retention and profiles. */
object MultimodalColumns extends Family {

  /** Constant 44-byte RIFF/PCM16 header (mono, 16 kHz) as uppercase hex
    * — the per-clip sample counts in the wav queries are compile-time
    * constants, so the oracle embeds the real encoder's header bytes. */
  private def wavHeaderHex(nSamples: Int): String =
    graft.llm.Wav.encode(graft.llm.Wav.Audio(16000, 1,
      new Array[Short](nSamples))).take(44)
      .map(b => f"${b & 0xff}%02X").mkString

  /** Constant single-frame y4m prefix (stream header + FRAME marker)
    * as uppercase hex — the real muxer's bytes, embedded so the frame
    * oracle pins the full emitted payload. */
  private def y4mHeaderHex(w: Int, h: Int): String =
    s"YUV4MPEG2 W$w H$h F25:1 C444\nFRAME\n".getBytes("US-ASCII")
      .map(b => f"${b & 0xff}%02X").mkString

  // mixed-media feature replay shared by q_media_features (mime
  // routing) and q_magic_features (magic-byte routing): doc_id mod 3
  // picks the modality, each branch recomputes its generator + feature
  // arithmetic (the three single-modality oracles, filtered + unioned)
  private def mediaFeaturesOracleSql: String =
    """WITH ipx AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)
          |  WHERE doc_id % 3 = 0),
          |img AS (
          |  SELECT doc_id, 'image' AS modality,
          |         8 AS d1, 6 AS d2, 1 AS d3, 8 AS n_feats,
          |         CAST(CAST(sum(r) AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |         CAST(CAST(sum(g) AS DOUBLE) / 48 / 255 AS FLOAT) AS f1,
          |         CAST(CAST(sum(b) AS DOUBLE) / 48 / 255 AS FLOAT) AS f2,
          |         CAST(CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
          |           / 1000.0 / 48 / 255 AS FLOAT) AS f3
          |  FROM ipx GROUP BY doc_id),
          |asm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)
          |  WHERE doc_id % 3 = 1),
          |aud AS (
          |  SELECT doc_id, 'audio' AS modality,
          |         16000 AS d1, 64 AS d2, 1 AS d3, 4 AS n_feats,
          |         CAST(CAST(sum(v) AS DOUBLE) / 64 / 32768.0 AS FLOAT)
          |           AS f0,
          |         CAST(sqrt(CAST(sum(v * v) AS DOUBLE) / 64) / 32768.0
          |           AS FLOAT) AS f1,
          |         CAST(CAST(sum(CASE WHEN j > 0 AND
          |             ((((doc_id * 31 + (j - 1) * 7) % 65521) - 32760
          |               < 0) <> (v < 0)) THEN 1 ELSE 0 END) AS DOUBLE)
          |           / 63 AS FLOAT) AS f2,
          |         CAST(CAST(max(abs(v)) AS DOUBLE) / 32768.0 AS FLOAT)
          |           AS f3
          |  FROM asm GROUP BY doc_id),
          |vsm AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)
          |  WHERE doc_id % 3 = 2),
          |vid AS (
          |  SELECT doc_id, 'video' AS modality,
          |         4 AS d1, 4 AS d2, 6 AS d3, 4 AS n_feats,
          |         CAST(CAST(sum(CASE WHEN j < 16 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f0,
          |         CAST(CAST(sum(CASE WHEN j >= 16 AND j < 32 THEN v END)
          |           AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f1,
          |         CAST(CAST(sum(CASE WHEN j >= 32 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f2,
          |         CAST(CAST(sum(CASE WHEN f > 0 THEN abs(v -
          |             ((doc_id * 31 + (f - 1) * 101 + j * 7) % 251))
          |           ELSE 0 END) AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |  FROM vsm GROUP BY doc_id)
          |SELECT doc_id, modality, d1::INTEGER AS d1, d2::INTEGER AS d2,
          |       d3::INTEGER AS d3, n_feats::INTEGER AS n_feats,
          |       f0, f1, f2, f3
          |FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
          |      UNION ALL SELECT * FROM vid)
          |ORDER BY doc_id""".stripMargin

  // Markov transition matrix: exact counts, one double division (the
  // oracle of q_transitions and of its twin q_transitions_dag)
  private[queries] def transitionsSql: String =
    """WITH ed AS (
      |  SELECT lag(event_type) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
      |         event_type AS dst
      |  FROM events),
      |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
      |       WHERE src IS NOT NULL GROUP BY src, dst),
      |t AS (SELECT src, sum(w)::BIGINT AS tot FROM e0 GROUP BY src)
      |SELECT e0.src, e0.dst, e0.w, e0.w::DOUBLE / t.tot::DOUBLE AS p
      |FROM e0 JOIN t USING (src) ORDER BY src, dst""".stripMargin

  // the oracle of q_funnel_counts and of its twin q_funnel_counts_dag
  private[queries] def funnelCountsSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t1
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      |       GROUP BY e.user_id),
      |f AS (SELECT s1.user_id,
      |        CASE WHEN s3.user_id IS NOT NULL THEN 3
      |             WHEN s2.user_id IS NOT NULL THEN 2
      |             ELSE 1 END AS depth
      |      FROM s1
      |      LEFT JOIN s2 ON s1.user_id = s2.user_id
      |      LEFT JOIN s3 ON s1.user_id = s3.user_id),
      |steps AS (SELECT s FROM unnest(generate_series(1, 3)) t(s))
      |SELECT CAST(steps.s AS INT) AS step,
      |       count(f.depth)::BIGINT AS users
      |FROM steps LEFT JOIN f ON f.depth >= steps.s
      |GROUP BY steps.s ORDER BY step""".stripMargin

  val cases: Seq[Case] = Seq(

    Case("q_multimodal_dedup", (s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.dedupByContent(docs, "doc_id")
        .orderBy("doc_id")
    },
      oracle("""SELECT sha256(text) AS sha256, min(doc_id) AS doc_id,
          |       count(*) AS n_dups
          |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // frame sampling over binary payloads: ×nFrames generator, map-only;
    // frames checked by length + md5. The engine slices BYTES (binary
    // content — correct for real media); DuckDB cannot slice or md5
    // BLOBs, so the oracle slices the text per CHARACTER — identical
    // only on ASCII, which the plan-side guard now ENFORCES (r13
    // verdict task 6) instead of assuming from the corpus pin
    Case("q_frame_sample", (s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents").withColumn("text",
          Text.asciiOracleGuard(col("text"), "q_frame_sample")),
        "doc_id", "text")
      Multimodal.sampleFrames(docs.filter(col("doc_id") < 100), "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },
      oracle("""WITH w AS (
          |  SELECT doc_id, text,
          |         CAST(greatest(floor(len(text) / 4), 1) AS INT) AS width
          |  FROM documents WHERE doc_id < 100)
          |SELECT doc_id, i AS frame_idx,
          |       len(substring(text, i*width + 1, width)) AS frame_len,
          |       md5(substring(text, i*width + 1, width)) AS frame_md5
          |FROM w, unnest(generate_series(0, 3)) AS t(i)
          |WHERE len(substring(text, i*width + 1, width)) > 0
          |ORDER BY doc_id, frame_idx""".stripMargin)),

    // byte-level seam (audio/video stand-in): deterministic strided
    // byte-histogram features behind the production mapPartitions shape
    Case("q_multimodal_features_bytes", (s, dir) => {
      val docs = Multimodal.asBinaryDoc(
        t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(s, docs, "doc_id", dim = 8)
        .select(col("id").as("doc_id"), col("n_bytes"),
          round(element_at(col("feature"), 1).cast("double"), 6).as("f0"))
        .orderBy("doc_id")
    },
      oracle(OracleXxh.q_multimodal_features_bytes)),

    // REAL image decode: per-doc synthetic 8x6 P6 payloads built by the
    // real encoder, parsed back by the real parser (Ppm.decode), 8
    // fixed-arithmetic pixel features — decoded dims + all features
    // replayed bit-exactly by the oracle
    Case("q_multimodal_features", (s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.extractImageFeatures(imgs, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("width"), col("height")) ++
          (0 until 8).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    },
      // real PPM decode replay: the synthetic raster generator
      // ((id*31 + j*7) mod 251, Ppm.synthetic) recomputed per channel,
      // exact BIGINT sums, then the decoder's fixed double->float
      // division chains (Ppm.features)
      oracle("""WITH px AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)),
          |a AS (
          |  SELECT doc_id, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
          |         max(r) AS mr, max(g) AS mg, max(b) AS mb,
          |         sum(299 * r + 587 * g + 114 * b) AS lum,
          |         sum(abs(r - b)) AS ad
          |  FROM px GROUP BY doc_id)
          |SELECT doc_id, 8::INTEGER AS width, 6::INTEGER AS height,
          |       CAST(CAST(sr AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |       CAST(CAST(sg AS DOUBLE) / 48 / 255 AS FLOAT) AS f1,
          |       CAST(CAST(sb AS DOUBLE) / 48 / 255 AS FLOAT) AS f2,
          |       CAST(CAST(lum AS DOUBLE) / 1000.0 / 48 / 255 AS FLOAT)
          |         AS f3,
          |       CAST(CAST(mr AS DOUBLE) / 255 AS FLOAT) AS f4,
          |       CAST(CAST(mg AS DOUBLE) / 255 AS FLOAT) AS f5,
          |       CAST(CAST(mb AS DOUBLE) / 255 AS FLOAT) AS f6,
          |       CAST(CAST(ad AS DOUBLE) / 48 / 255 AS FLOAT) AS f7
          |FROM a ORDER BY doc_id""".stripMargin)),

    // real frame sampling: decoded pixel-row bands re-encoded as
    // standalone P6 images; the full frame BYTES are pinned (hex)
    Case("q_ppm_frames", (s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.sampleImageRows(imgs, "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    },
      // band f of 4 covers pixel rows [f*6//4, (f+1)*6//4); each frame
      // is a standalone P6 payload: header for the band height + the
      // band's raster bytes, hex-pinned end to end
      oracle("""WITH f AS (
          |  SELECT doc_id, f, (f * 6) // 4 AS y0, ((f + 1) * 6) // 4 AS y1
          |  FROM documents, unnest(generate_series(0, 3)) AS t(f)
          |  WHERE doc_id < 100),
          |px AS (
          |  SELECT doc_id, f, y1 - y0 AS bh,
          |         string_agg(printf('%02X',
          |             ((doc_id * 31 + j * 7) % 251)::INT),
          |           '' ORDER BY j) AS body
          |  FROM f, unnest(generate_series(0, 143)) AS t2(j)
          |  WHERE j >= y0 * 24 AND j < y1 * 24
          |  GROUP BY doc_id, f, y1 - y0)
          |SELECT doc_id, f::BIGINT AS frame_idx,
          |       hex('P6' || chr(10) || '8 ' || bh || chr(10) || '255'
          |           || chr(10)) || body AS frame_hex
          |FROM px ORDER BY doc_id, frame_idx""".stripMargin)),

    // mixed-media routing: one corpus interleaving all three modalities
    // (by doc_id mod 3), one MediaFeaturesOp pass dispatching each
    // payload to its real codec — the unified feature table oracled
    // end to end
    Case("q_media_features", (s, dir) => {
      import s.implicits._
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id % 3) match {
            case 0 => (id, graft.llm.Ppm.Mime,
              graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6)))
            case 1 => (id, graft.llm.Wav.Mime,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64)))
            case _ => (id, graft.llm.Y4m.Mime,
              graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6)))
          }
        }.toDF("doc_id", "mime", "content")
      graft.streaming.ops.MediaFeaturesOp(Map.empty, Seq(mixed)).head
        .select(col("id").as("doc_id"), col("modality"), col("d1"),
          col("d2"), col("d3"), col("n_feats"),
          col("f0"), col("f1"), col("f2"), col("f3"))
        .orderBy("doc_id")
    },
      // mixed-media routing replay: doc_id mod 3 picks the modality,
      // each branch recomputes its generator + feature arithmetic
      // (the three single-modality oracles, filtered and unioned)
      oracle(mediaFeaturesOracleSql)),

    // magic-byte dispatch: the SAME mixed corpus with NO mime column —
    // extractFeatures sniffs each payload's magic bytes
    // (Multimodal.sniffModality) and routes to the identical real
    // codecs; first four features of every modality oracled
    Case("q_magic_features", (s, dir) => {
      import s.implicits._
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          (id % 3) match {
            case 0 => (id,
              graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6)))
            case 1 => (id,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64)))
            case _ => (id,
              graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6)))
          }
        }.toDF("doc_id", "content")
      Multimodal.extractFeatures(s, mixed, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("modality"),
          size(col("feature")).as("n_feats")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    },
      // magic-byte dispatch replay: identical corpus and feature
      // arithmetic, but the engine routes by sniffModality (no mime
      // column) — so the oracle is the media oracle minus the dims,
      // which extractFeatures doesn't carry
      oracle(
        ("SELECT doc_id, modality, n_feats, f0, f1, f2, f3 FROM (" +
          mediaFeaturesOracleSql + ") ORDER BY doc_id"))),

    // composed MEDIA pipeline (the multimodal q_pipeline_* sibling):
    // duplicated payloads (consecutive id pairs share content) ->
    // content-addressed dedup keeps the min id -> mime routing to the
    // real codecs -> per-modality stats; every stage individually
    // oracled, the composition hash-matched end to end
    Case("q_pipeline_media", (s, dir) => {
      import s.implicits._
      // pipeline-SPECIFIC injective generators: the shared synthetics
      // are periodic in the id (mod 251), so at corpus scale distinct
      // content keys would produce byte-identical payloads and break
      // the pairs-only dedup invariant the oracle replays. A constant
      // (k/251)-offset term is NOT enough (the payload is then a pure
      // function of one value mod 251 — pigeonhole collisions as soon
      // as keys approach 251); the (1+j)-scaled term makes the pixel
      // VECTOR injective in (k mod 251, k/251 mod 251): equal payloads
      // force 31Δk + 97(1+j)Δd ≡ 0 (mod 251) for every j, hence
      // Δd ≡ Δk ≡ 0 — distinct keys below 251² never collide (audio's
      // 65521 period already exceeds every test corpus)
      def img(k: Long) = graft.llm.Ppm.encodeP6(
        graft.llm.Ppm.Image(8, 6, 255, Array.tabulate(144)(j =>
          ((k * 31 + j * 7 + k / 251 * 97 * (1 + j)) % 251).toInt)))
      def vid(k: Long) = graft.llm.Y4m.encode(
        graft.llm.Y4m.Video(4, 4, 25, 1, IndexedSeq.tabulate(6)(f =>
          Array.tabulate(48)(j =>
            ((k * 31 + f * 101 + j * 7 + k / 251 * 97 * (1 + j)) % 251)
              .toInt))))
      val mixed = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val k = id - (id % 2) // content key: pairs share payloads
          (k % 3) match {
            case 0 => (id, graft.llm.Ppm.Mime, img(k))
            case 1 => (id, graft.llm.Wav.Mime,
              graft.llm.Wav.encode(graft.llm.Wav.synthetic(k, 64)))
            case _ => (id, graft.llm.Y4m.Mime, vid(k))
          }
        }.toDF("doc_id", "mime", "content")
      // content-addressed dedup in ONE pass: min id per digest via a
      // window (dedupByContent's groupBy twin — the window form never
      // re-reads the payload-synthesis lineage through a self-join)
      val survivors = mixed
        .withColumn("__sha", sha2(col("content"), 256))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__sha")).orderBy(col("doc_id"))))
        .filter(col("__rk") === 1)
        .drop("__sha", "__rk")
      val feats = graft.streaming.ops.MediaFeaturesOp(
        Map.empty, Seq(survivors)).head
      // float mins/maxes are order-independent (unlike float sums), so
      // the aggregate stays bit-replayable
      feats.groupBy("modality")
        .agg(count(lit(1)).as("n_docs"),
          min(col("f0")).as("f0_min"),
          max(col("f3")).as("f3_max"))
        .orderBy("modality")
    },
      // media pipeline replay: consecutive id pairs share content so
      // content dedup keeps the EVEN ids; per-modality branches
      // recompute f0/f3 for survivors and aggregate with
      // order-independent float min/max
      oracle("""WITH ipx AS (
          |  SELECT doc_id, p,
          |         ((doc_id * 31 + (p * 3) * 7
          |           + (doc_id // 251) * 97 * (1 + p * 3)) % 251) AS r,
          |         ((doc_id * 31 + (p * 3 + 1) * 7
          |           + (doc_id // 251) * 97 * (2 + p * 3)) % 251) AS g,
          |         ((doc_id * 31 + (p * 3 + 2) * 7
          |           + (doc_id // 251) * 97 * (3 + p * 3)) % 251) AS b
          |  FROM documents, unnest(generate_series(0, 47)) AS t(p)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 0),
          |idoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(r) AS DOUBLE) / 48 / 255 AS FLOAT) AS f0,
          |         CAST(CAST(sum(299 * r + 587 * g + 114 * b) AS DOUBLE)
          |           / 1000.0 / 48 / 255 AS FLOAT) AS f3
          |  FROM ipx GROUP BY doc_id),
          |img AS (SELECT 'image' AS modality, count(*) AS n_docs,
          |               min(f0) AS f0_min, max(f3) AS f3_max FROM idoc),
          |asm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 1),
          |adoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(v) AS DOUBLE) / 64 / 32768.0 AS FLOAT)
          |           AS f0,
          |         CAST(CAST(max(abs(v)) AS DOUBLE) / 32768.0 AS FLOAT)
          |           AS f3
          |  FROM asm GROUP BY doc_id),
          |aud AS (SELECT 'audio' AS modality, count(*) AS n_docs,
          |               min(f0) AS f0_min, max(f3) AS f3_max FROM adoc),
          |vsm AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7
          |           + (doc_id // 251) * 97 * (1 + j)) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)
          |  WHERE doc_id % 2 = 0 AND doc_id % 3 = 2),
          |vdoc AS (
          |  SELECT doc_id,
          |         CAST(CAST(sum(CASE WHEN j < 16 THEN v END) AS DOUBLE)
          |           / 96 / 255.0 AS FLOAT) AS f0,
          |         CAST(CAST(sum(CASE WHEN f > 0 THEN abs(v -
          |             ((doc_id * 31 + (f - 1) * 101 + j * 7
          |               + (doc_id // 251) * 97 * (1 + j)) % 251))
          |           ELSE 0 END) AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |  FROM vsm GROUP BY doc_id)
          |SELECT modality, n_docs, f0_min, f3_max FROM (
          |  SELECT * FROM img UNION ALL SELECT * FROM aud
          |  UNION ALL SELECT 'video' AS modality, count(*) AS n_docs,
          |         min(f0) AS f0_min, max(f3) AS f3_max FROM vdoc)
          |ORDER BY modality""".stripMargin)),

    // REAL video demux: synthetic 4x4 C444 clips (6 frames) built by
    // the real muxer, parsed back by the real header/FRAME walker;
    // decoded dims/frame count + plane means + temporal motion oracled
    Case("q_y4m_features", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6))))
        .toDF("doc_id", "content")
      Multimodal.extractVideoFeatures(clips, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("width"), col("height"),
          col("n_frames")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    },
      // y4m replay: the synthetic plane generator
      // ((id*31 + f*101 + j*7) mod 251, Y4m.synthetic) recomputed;
      // planes split by sample index (Y < 16 <= U < 32 <= V), motion =
      // mean abs frame delta; 4x4 C444, 6 frames
      oracle("""WITH s AS (
          |  SELECT doc_id, f, j,
          |         ((doc_id * 31 + f * 101 + j * 7) % 251) AS v
          |  FROM documents, unnest(generate_series(0, 5)) AS tf(f),
          |       unnest(generate_series(0, 47)) AS tj(j)),
          |a AS (
          |  SELECT doc_id,
          |    sum(CASE WHEN j < 16 THEN v END) AS sy,
          |    sum(CASE WHEN j >= 16 AND j < 32 THEN v END) AS su,
          |    sum(CASE WHEN j >= 32 THEN v END) AS sv,
          |    sum(CASE WHEN f > 0 THEN abs(v -
          |        ((doc_id * 31 + (f - 1) * 101 + j * 7) % 251))
          |      ELSE 0 END) AS mo
          |  FROM s GROUP BY doc_id)
          |SELECT doc_id, 4::INTEGER AS width, 4::INTEGER AS height,
          |       6::INTEGER AS n_frames,
          |       CAST(CAST(sy AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f0,
          |       CAST(CAST(su AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f1,
          |       CAST(CAST(sv AS DOUBLE) / 96 / 255.0 AS FLOAT) AS f2,
          |       CAST(CAST(mo AS DOUBLE) / 240 / 255.0 AS FLOAT) AS f3
          |FROM a ORDER BY doc_id""".stripMargin)),

    // real keyframe sampling: 3 evenly-spaced frames of 6, each
    // re-encoded as a standalone single-frame clip, bytes hex-pinned
    Case("q_y4m_frames", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Y4m.encode(graft.llm.Y4m.synthetic(id, 4, 4, 6))))
        .toDF("doc_id", "content")
      Multimodal.sampleVideoFrames(clips, "doc_id", 3)
        .select(col("id").as("doc_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("doc_id", "frame_idx")
    },
      // sampled frame i of 3 is SOURCE frame 2i; each emitted clip is
      // the real muxer's single-frame form: constant header + FRAME
      // marker + the frame's raster bytes, hex-pinned end to end
      oracle(s"""WITH fr AS (
           |  SELECT doc_id, i * 2 AS src
           |  FROM documents, unnest(generate_series(0, 2)) AS t(i)
           |  WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id, src,
           |         string_agg(printf('%02X',
           |             ((doc_id * 31 + src * 101 + j * 7) % 251)::INT),
           |           '' ORDER BY j) AS body
           |  FROM fr, unnest(generate_series(0, 47)) AS tj(j)
           |  GROUP BY doc_id, src)
           |SELECT doc_id, src::INTEGER AS frame_idx,
           |       '${y4mHeaderHex(4, 4)}' || body AS frame_hex
           |FROM px ORDER BY doc_id, frame_idx""".stripMargin)),

    // REAL audio decode: synthetic 64-sample PCM16 clips built by the
    // real RIFF encoder, parsed back by the real chunk-walking parser;
    // decoded rate/length + 4 fixed-arithmetic features oracled
    Case("q_wav_features", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.extractAudioFeatures(clips, "doc_id")
        .select(Seq(col("id").as("doc_id"), col("sample_rate"),
          col("n_samples")) ++
          (0 until 4).map(i => element_at(col("feature"), i + 1)
            .as(s"f$i")): _*)
        .orderBy("doc_id")
    },
      // wav replay: the synthetic sample generator
      // ((id*31 + j*7) mod 65521 - 32760, Wav.synthetic) recomputed,
      // exact BIGINT sums, the decoder's fixed double->float chains
      // (sqrt is IEEE-correctly-rounded in both engines)
      oracle("""WITH sm AS (
          |  SELECT doc_id, j,
          |         ((doc_id * 31 + j * 7) % 65521) - 32760 AS v
          |  FROM documents, unnest(generate_series(0, 63)) AS t(j)),
          |a AS (
          |  SELECT doc_id, sum(v) AS sv, sum(v * v) AS sq,
          |         max(abs(v)) AS pk,
          |         sum(CASE WHEN j > 0 AND
          |               ((((doc_id * 31 + (j - 1) * 7) % 65521) - 32760
          |                 < 0) <> (v < 0)) THEN 1 ELSE 0 END) AS zc
          |  FROM sm GROUP BY doc_id)
          |SELECT doc_id, 16000::INTEGER AS sample_rate,
          |       64::INTEGER AS n_samples,
          |       CAST(CAST(sv AS DOUBLE) / 64 / 32768.0 AS FLOAT) AS f0,
          |       CAST(sqrt(CAST(sq AS DOUBLE) / 64) / 32768.0 AS FLOAT)
          |         AS f1,
          |       CAST(CAST(zc AS DOUBLE) / 63 AS FLOAT) AS f2,
          |       CAST(CAST(pk AS DOUBLE) / 32768.0 AS FLOAT) AS f3
          |FROM a ORDER BY doc_id""".stripMargin)),

    // real clip sampling: decoded time slices re-encoded as standalone
    // WAVs; every clip's full bytes are pinned (hex)
    Case("q_wav_clips", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.sampleAudioClips(clips, "doc_id", 4)
        .select(col("id").as("doc_id"),
          col("clip_idx").cast("long").as("clip_idx"),
          hex(col("clip")).as("clip_hex"))
        .orderBy("doc_id", "clip_idx")
    },
      // clip f of 4 covers sample frames [f*16, (f+1)*16); each clip is
      // a standalone WAV: the real encoder's constant header + the
      // slice's little-endian PCM16 bytes, hex-pinned end to end
      oracle(s"""WITH fr AS (
           |  SELECT doc_id, f
           |  FROM documents, unnest(generate_series(0, 3)) AS t(f)
           |  WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id, f,
           |         string_agg(printf('%02X%02X', u % 256, u // 256),
           |           '' ORDER BY j) AS body
           |  FROM (SELECT doc_id, f, j,
           |          ((((((doc_id * 31 + j * 7) % 65521) - 32760)
           |            % 65536) + 65536) % 65536) AS u
           |        FROM fr, unnest(generate_series(0, 63)) AS t2(j)
           |        WHERE j >= f * 16 AND j < (f + 1) * 16) s
           |  GROUP BY doc_id, f)
           |SELECT doc_id, f::BIGINT AS clip_idx,
           |       '${wavHeaderHex(16)}' || body AS clip_hex
           |FROM px ORDER BY doc_id, clip_idx""".stripMargin)),

    // real decimation: nearest-neighbor 64 -> 16 frames on decoded
    // samples, re-encoded payload pinned byte-for-byte
    Case("q_wav_decimate", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Wav.encode(graft.llm.Wav.synthetic(id, 64))))
        .toDF("doc_id", "content")
      Multimodal.decimateAudio(clips, "doc_id", 16)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          hex(col("content")).as("content_hex"))
        .orderBy("doc_id")
    },
      // nearest-neighbor 64 -> 16 frames: output frame i samples source
      // frame 4i; payload = constant 16-frame header + decimated bytes
      oracle(s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
           |px AS (
           |  SELECT doc_id,
           |         string_agg(printf('%02X%02X', u % 256, u // 256),
           |           '' ORDER BY i) AS body
           |  FROM (SELECT doc_id, i,
           |          ((((((doc_id * 31 + (i * 4) * 7) % 65521) - 32760)
           |            % 65536) + 65536) % 65536) AS u
           |        FROM d, unnest(generate_series(0, 15)) AS t(i)) s
           |  GROUP BY doc_id)
           |SELECT doc_id, 76::BIGINT AS n_bytes,
           |       '${wavHeaderHex(16)}' || body AS content_hex
           |FROM px ORDER BY doc_id""".stripMargin)),

    // real resize: nearest-neighbor 8x6 -> 4x3 on decoded pixels,
    // re-encoded payload pinned byte-for-byte (hex) + refreshed meta
    Case("q_ppm_resize", (s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id")).as[Long]
        .map(id => (id,
          graft.llm.Ppm.encodeP6(graft.llm.Ppm.synthetic(id, 8, 6))))
        .toDF("doc_id", "content")
      Multimodal.resizeImage(imgs, "doc_id", 4, 3)
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          hex(col("content")).as("content_hex"))
        .orderBy("doc_id")
    },
      // nearest-neighbor 8x6 -> 4x3: destination byte k maps to source
      // byte ((2*(p//4))*8 + 2*(p%4))*3 + c with p = k//3, c = k%3
      oracle("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100),
          |px AS (
          |  SELECT doc_id,
          |         string_agg(printf('%02X',
          |             ((doc_id * 31 +
          |               ((((k // 3) // 4) * 2 * 8 + ((k // 3) % 4) * 2)
          |                 * 3 + k % 3) * 7) % 251)::INT),
          |           '' ORDER BY k) AS body
          |  FROM d, unnest(generate_series(0, 35)) AS t(k)
          |  GROUP BY doc_id)
          |SELECT doc_id, 47::BIGINT AS n_bytes,
          |       hex('P6' || chr(10) || '4 3' || chr(10) || '255'
          |           || chr(10)) || body AS content_hex
          |FROM px ORDER BY doc_id""".stripMargin)),

    // DSIR importance resampling (Xie et al. NeurIPS'23): hashed
    // unigram+bigram bags scored against the lang='en' target slice.
    // The EXACT integer ranking statistic is the oracled contract; the
    // paper's log-ratio rides along as log_weight (ln is not
    // oracle-portable — Dsir scaladoc)
    // the oracle-facing projection narrows score decimal(38,0) → long:
    // int64 canonicalizes identically through every gate-side
    // conversion path where Decimal may not (r6 red gate row with
    // locally-bit-exact values); ANSI cast raises loudly on overflow
    Case("q_dsir_scores", (s, dir) =>
      graft.llm.Dsir.importanceScores(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", buckets = 1024)
        .select(col("doc_id"), col("n_feats"),
          col("score").cast("long").as("score"))
        .orderBy("doc_id"),
      oracle(OracleXxh.q_dsir_scores(1024, "lang = 'en'"))),

    // the selection step: top-100 by (score desc, id) — distributed
    // partial top-n (TakeOrderedAndProject), deterministic tiebreak
    Case("q_dsir_select", (s, dir) =>
      graft.llm.Dsir.selectTop(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", n = 100, buckets = 1024)
        .select(col("doc_id"), col("score").cast("long").as("score"))
        .orderBy("doc_id"),
      oracle(OracleXxh.q_dsir_select(1024, "lang = 'en'", 100))),

    // product quantization: 64 dims -> m=8 subspaces × ksub=16 codes
    // (seeded codebooks — the exactly-deterministic path, like
    // q_kmeans_assign); the stored code of every (vector, subspace)
    Case("q_pq_codes", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.encode(e, "vec_id", "embedding", cb)
        .select(col("id").as("vec_id"), posexplode(col("code")))
        .select(col("vec_id"), col("pos").as("s"), col("col").as("code"))
        .orderBy("vec_id", "s")
    },
      // PQ code assignment: per subspace s, the strict-< argmin over the
      // 16 seed centroids of the SLICED vectors (dims s*8+1 .. s*8+8),
      // same sequential per-dim fold as NearestCells' kernel
      oracle(s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |d AS (SELECT e.vec_id, sp.s, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN cents c),
           |asg AS (SELECT vec_id, s, cell, row_number() OVER (
           |          PARTITION BY vec_id, s ORDER BY dist, cell) AS rn
           |        FROM d)
           |SELECT vec_id, CAST(s AS INT) AS s, CAST(cell AS INT) AS code
           |FROM asg WHERE rn = 1
           |ORDER BY vec_id, s""".stripMargin)),

    // JL random projection 64 → 16 dims: deterministic ±1 planes from
    // the RhpSignature hash chain, exact per-(vector, dim) values —
    // the pre-ANN compression step, oracled against the staged
    // hashInt plane replay
    Case("q_rp_project", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(
          graft.functions.Vectors.rhpProject(col("embedding"), 16, 9)))
        .select(col("vec_id"), col("pos").as("j"), col("col").as("v"))
        .orderBy("vec_id", "j"),
      oracle(OracleXxh.q_rp_project(16, 9))),

    // temperature mixture (α=1/2): rates from the corpus's own source
    // counts, every arithmetic step IEEE correctly-rounded, so the
    // EXACT kept set replays in SQL — pinned per (doc, source)
    Case("q_mix_temperature", (s, dir) =>
      graft.operators.Ops.temperatureMix(col("doc_id"), col("source"),
        outFraction = 0.5)(t(s, dir, "documents"))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      // rate replay: count / +,×,/,sqrt only (each correctly rounded,
      // denominator folded in stratum-name order) — bit-identical to
      // the driver-computed rates; then the q_mix_sample Lehmer filter
      oracle("""WITH c AS (
          |  SELECT source AS s, count(*) AS n FROM documents
          |  WHERE source IS NOT NULL GROUP BY source),
          |tot AS (SELECT sum(n) AS nn FROM c),
          |den AS (SELECT list_reduce(list_prepend(0.0,
          |          list(sqrt(n::DOUBLE) ORDER BY s)),
          |          (a, v) -> a + v) AS d
          |        FROM c),
          |r AS (SELECT s, least(1.0,
          |        (0.5 * nn::DOUBLE) * sqrt(n::DOUBLE) / d / n::DOUBLE)
          |        AS rate
          |      FROM c, tot, den)
          |SELECT d2.doc_id, d2.source
          |FROM documents d2 JOIN r ON r.s = d2.source
          |WHERE (((d2.doc_id % 2147483647) * 48271) % 2147483647) % 10000
          |      < CAST(floor(rate * 10000) AS BIGINT)
          |ORDER BY doc_id""".stripMargin)),

    // BPE roundtrip: decode(encode(tokens)) must reproduce the exact
    // token concatenation — vocab completeness + merge-loop losslessness
    // through the REAL committed tables, against an oracle that never
    // sees BPE at all
    Case("q_bpe_roundtrip", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Text.tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          graft.functions.Bpe.decode(
            graft.functions.Bpe.encode(col("ts"))).as("detok"))
        .orderBy("doc_id"),
      oracle(s"""SELECT doc_id, array_to_string($toksSql, '') AS detok
           |FROM documents ORDER BY doc_id""".stripMargin)),

    // in-engine BPE TRAINING (Sennrich ACL'16): one distributed
    // word-count pass bounded to the top-200 words, then the
    // deterministic driver merge-learning loop (ties to the smallest
    // (left, right) pair) — the HF-tokenizers/SentencePiece scale
    // split. The ENTIRE loop replays in DuckDB (word table as
    // list_reduce state), so every learned merge is oracle-checked,
    // not just the staging
    Case("q_bpe_train", (s, dir) => {
      import s.implicits._
      val tbl = graft.functions.Bpe.train(t(s, dir, "documents"),
        "text", numMerges = 30, topWords = 200)
      tbl.merges.zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("m_rank", "lhs", "rhs")
        .orderBy("m_rank")
    },
      // full BPE-learning replay: the bounded word-count table rides a
      // list_reduce as state {ws: [(symbols, count)], ms: [(a, b)]};
      // each iteration sums adjacent-pair counts, picks max by
      // (count desc, a, b) — a strict total order, so selection is
      // fold-order independent — and applies the merge left-to-right
      // non-overlapping via a pend-symbol sequential fold (the 'aaa'
      // -> [aa, a] convention). Words never collide after merges (the
      // concatenation invariant), so no re-aggregation is needed
      oracle(s"""WITH wc AS MATERIALIZED (
           |  SELECT t, count(*)::BIGINT AS c FROM (
           |    SELECT unnest($toksSql) AS t FROM documents)
           |  GROUP BY 1 ORDER BY c DESC, t ASC LIMIT 200),
           |init AS MATERIALIZED (
           |  SELECT list({'w': list_transform(
           |            range(1, len(t)+1), i -> t[i]), 'c': c}) AS st
           |  FROM wc),
           |fold AS MATERIALIZED (SELECT list_reduce(
           |  list_prepend((SELECT st FROM init),
           |    list_transform(range(0, 30),
           |      x -> []::STRUCT(w VARCHAR[], c BIGINT)[])),
           |  (acc, e) -> list_transform([list_filter(acc, g -> g.c > 0)],
           |    ws -> list_transform([flatten(list_transform(ws,
           |        wr -> list_transform(range(1, len(wr.w)),
           |          i -> {'a': wr.w[i], 'b': wr.w[i+1], 'c': wr.c})))],
           |      ps -> CASE WHEN len(ps) = 0 THEN acc ELSE
           |        list_transform([list_distinct(list_transform(ps,
           |            x -> x.a || chr(1) || x.b))], dp ->
           |          list_transform([list_transform(dp, d ->
           |              {'a': string_split(d, chr(1))[1],
           |               'b': string_split(d, chr(1))[2],
           |               's': list_sum(list_transform(list_filter(ps,
           |                 x -> x.a || chr(1) || x.b = d), x -> x.c))})],
           |            sc -> list_transform([list_reduce(sc, (m, x) ->
           |                CASE WHEN x.s > m.s OR (x.s = m.s AND
           |                  (x.a < m.a OR (x.a = m.a AND x.b < m.b)))
           |                  THEN x ELSE m END)], bst ->
           |              list_transform(ws, wr -> {'w':
           |                 list_transform([list_reduce(
           |                   list_prepend([''],
           |                     list_transform(wr.w, s -> [s])),
           |                   (a2, el) -> CASE
           |                     WHEN a2[len(a2)] = ''
           |                       THEN a2[1:len(a2)-1] || [el[1]]
           |                     WHEN a2[len(a2)] = bst.a AND el[1] = bst.b
           |                       THEN a2[1:len(a2)-1]
           |                            || [a2[len(a2)] || el[1], '']
           |                     ELSE a2 || [el[1]]
           |                   END)], fin ->
           |                   CASE WHEN fin[len(fin)] = ''
           |                        THEN fin[1:len(fin)-1] ELSE fin END)[1],
           |                 'c': wr.c})
           |              || list_filter(acc, g -> g.c < 0)
           |              || [{'w': [bst.a, bst.b],
           |                   'c': -(len(acc) - len(ws)) - 1}]
           |            )[1])[1])[1]
           |      END)[1])[1]) AS st)
           |SELECT (-m.c - 1)::BIGINT AS m_rank,
           |       m.w[1] AS lhs, m.w[2] AS rhs
           |FROM fold, unnest(list_filter(st, x -> x.c < 0)) AS u(m)
           |ORDER BY m_rank""".stripMargin)),

    // ADC top-5 per query over codes alone — m table lookups per
    // candidate, folded left-to-right, ties to the smaller neighbor id
    Case("q_pq_search", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.adcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", cb, k = 5)
        .orderBy("query_id", "rank")
    },
      // ADC search replay: each query's per-(subspace, cell) distance
      // table is the same `d` CTE restricted to the query rows; the
      // approximate distance folds the 8 looked-up table entries in
      // ascending subspace order (list(… ORDER BY s) → sequential
      // reduce), matching Pq.adcTopK's left-to-right aggregate
      oracle(s"""WITH cents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |d AS (SELECT e.vec_id, sp.s, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - c.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN cents c),
           |asg AS (SELECT vec_id, s, cell FROM (
           |  SELECT vec_id, s, cell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, cell) AS rn FROM d)
           |  WHERE rn = 1),
           |lk AS (
           |  SELECT dq.vec_id AS query_id, a.vec_id AS nbr_id, a.s,
           |         dq.dist AS dd
           |  FROM asg a
           |  JOIN d dq ON dq.s = a.s AND dq.cell = a.cell
           |  WHERE dq.vec_id < 5 AND dq.vec_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      materializeCtes = true),

    // IVF-PQ: coarse routing (8 seeded cells, 2 probed) + ADC over the
    // codes inside probed cells only — the production billion-scale
    // ANN layout, both quantizers on their exactly-deterministic
    // seeded paths; fewer than k rows per query when the probed cells
    // run dry (the recall trade the oracle replays too)
    Case("q_pq_ivf_search", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val coarse = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      val cb = graft.llm.Pq.train(e, "vec_id", "embedding",
        m = 8, ksub = 16)
      graft.llm.Pq.ivfAdcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", coarse, cb, k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },
      // IVF-PQ replay: coarse assignment + probe ranking reuse the
      // full-vector q_kmeans_assign fold; the PQ chain is q_pq_search's;
      // candidates are restricted to probed (query cell = corpus cell)
      oracle(s"""WITH ccents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |cd AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN ccents c),
           |asgc AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd)
           |  WHERE rn = 1),
           |probe AS (SELECT vec_id AS query_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd
           |  WHERE vec_id < 5) WHERE rn <= 2),
           |pcents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |pd AS (SELECT e.vec_id, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (e.embedding[sp.s*8 + i]::DOUBLE
           |              - p.cv[sp.s*8 + i]::DOUBLE)
           |         * (e.embedding[sp.s*8 + i]::DOUBLE
           |              - p.cv[sp.s*8 + i]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN sp CROSS JOIN pcents p),
           |pasg AS (SELECT vec_id, s, pcell FROM (
           |  SELECT vec_id, s, pcell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, pcell) AS rn
           |  FROM pd) WHERE rn = 1),
           |lk AS (
           |  SELECT dq.vec_id AS query_id, a.vec_id AS nbr_id, a.s,
           |         dq.dist AS dd
           |  FROM pasg a
           |  JOIN pd dq ON dq.s = a.s AND dq.pcell = a.pcell
           |  JOIN asgc ON asgc.vec_id = a.vec_id
           |  JOIN probe ON probe.query_id = dq.vec_id
           |            AND probe.cell = asgc.cell
           |  WHERE dq.vec_id < 5 AND dq.vec_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ proper: codes quantize RESIDUALS (vector - own coarse
    // centroid); distance tables are per (query, probed cell) from the
    // query's residual against that cell — Jégou TPAMI'11 §III.C
    Case("q_pq_ivf_residual", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val coarse = graft.llm.KMeans.seed(e, "vec_id", "embedding", k = 8)
      val cb = graft.llm.Pq.trainResidual(e, "vec_id", "embedding",
        coarse, m = 8, ksub = 16)
      graft.llm.Pq.ivfResidualAdcTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", coarse, cb, k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    },
      // IVF-PQ with residual encoding: the q_pq_ivf_search replay with
      // res/qres CTEs — corpus codes from (vector − own-cell centroid),
      // query tables from (query − probed-cell centroid), both exact
      // double subtractions; the codebook seeds from the first 16
      // RESIDUAL vectors (trainResidual's deterministic contract)
      oracle(s"""WITH ccents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
           |         embedding AS cv
           |  FROM embeddings ORDER BY vec_id LIMIT 8),
           |cd AS (SELECT e.vec_id, c.cell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(list_zip(e.embedding, c.cv),
           |      x -> (x[1]::DOUBLE - x[2]::DOUBLE)
           |         * (x[1]::DOUBLE - x[2]::DOUBLE))),
           |    (a, y) -> a + y) AS dist
           |  FROM embeddings e CROSS JOIN ccents c),
           |asgc AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd)
           |  WHERE rn = 1),
           |probe AS (SELECT vec_id AS query_id, cell FROM (
           |  SELECT vec_id, cell, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM cd
           |  WHERE vec_id < 5) WHERE rn <= 2),
           |res AS (
           |  SELECT e.vec_id, a.cell,
           |         list_transform(list_zip(e.embedding, c.cv),
           |           x -> x[1]::DOUBLE - x[2]::DOUBLE) AS rv
           |  FROM embeddings e
           |  JOIN asgc a ON a.vec_id = e.vec_id
           |  JOIN ccents c ON c.cell = a.cell),
           |pcents AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcell,
           |         rv AS cv
           |  FROM res ORDER BY vec_id LIMIT 16),
           |sp AS (SELECT s FROM unnest(generate_series(0, 7)) AS t(s)),
           |pd AS (SELECT r.vec_id, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (r.rv[sp.s*8 + i] - p.cv[sp.s*8 + i])
           |         * (r.rv[sp.s*8 + i] - p.cv[sp.s*8 + i]))),
           |    (a, y) -> a + y) AS dist
           |  FROM res r CROSS JOIN sp CROSS JOIN pcents p),
           |pasg AS (SELECT vec_id, s, pcell FROM (
           |  SELECT vec_id, s, pcell, row_number() OVER (
           |    PARTITION BY vec_id, s ORDER BY dist, pcell) AS rn
           |  FROM pd) WHERE rn = 1),
           |qres AS (
           |  SELECT probe.query_id, probe.cell,
           |         list_transform(list_zip(e.embedding, c.cv),
           |           x -> x[1]::DOUBLE - x[2]::DOUBLE) AS qrv
           |  FROM probe
           |  JOIN embeddings e ON e.vec_id = probe.query_id
           |  JOIN ccents c ON c.cell = probe.cell),
           |qd AS (SELECT q.query_id, q.cell, sp.s, p.pcell,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, 9),
           |      i -> (q.qrv[sp.s*8 + i] - p.cv[sp.s*8 + i])
           |         * (q.qrv[sp.s*8 + i] - p.cv[sp.s*8 + i]))),
           |    (a, y) -> a + y) AS dist
           |  FROM qres q CROSS JOIN sp CROSS JOIN pcents p),
           |lk AS (
           |  SELECT qd.query_id, a.vec_id AS nbr_id, a.s,
           |         qd.dist AS dd
           |  FROM pasg a
           |  JOIN asgc ON asgc.vec_id = a.vec_id
           |  JOIN qd ON qd.cell = asgc.cell AND qd.s = a.s
           |         AND qd.pcell = a.pcell
           |  WHERE qd.query_id <> a.vec_id),
           |adc AS (
           |  SELECT query_id, nbr_id,
           |         list_reduce(list_prepend(0.0, list(dd ORDER BY s)),
           |           (acc, v) -> acc + v) AS adc_dist
           |  FROM lk GROUP BY query_id, nbr_id)
           |SELECT query_id, nbr_id, adc_dist, rank FROM (
           |  SELECT query_id, nbr_id, adc_dist, row_number() OVER (
           |    PARTITION BY query_id ORDER BY adc_dist, nbr_id) AS rank
           |  FROM adc)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
      materializeCtes = true),

    // overlap-FRACTION decontamination (Brown et al. 2020 appendix C /
    // PaLM): per-doc share of distinct 3-gram shingles found in the
    // pooled benchmark slice; one IEEE division per doc, same broadcast
    // shape as q_contamination
    Case("q_contamination_frac", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationFraction(
        docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minFrac = 0.05)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      // overlap-fraction decontamination: exact string shingles stand in
      // for the engine's 8-byte hashes (the q_contamination rule); LEFT
      // join so zero-overlap docs still count, one double division
      oracle(s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
           |sets AS (
           |  SELECT doc_id, list_distinct(list_transform(
           |    generate_series(1, greatest(len(ts) - 2, 0)),
           |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
           |  FROM toks WHERE len(ts) >= 3),
           |e AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles,
           |             unnest(sh) AS s
           |      FROM sets WHERE len(sh) > 0),
           |b AS (SELECT DISTINCT s FROM e WHERE doc_id % 17 = 0),
           |c AS (SELECT e.doc_id, e.n_shingles, count(b.s)::BIGINT AS n_shared
           |      FROM e LEFT JOIN b ON e.s = b.s
           |      WHERE e.doc_id % 17 <> 0
           |      GROUP BY 1, 2)
           |SELECT doc_id, n_shingles, n_shared,
           |       n_shared::DOUBLE / n_shingles::DOUBLE AS frac
           |FROM c
           |WHERE n_shared::DOUBLE / n_shingles::DOUBLE >= 0.05
           |ORDER BY doc_id""".stripMargin)),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): the corpus is
    // single-line, so each doc is deterministically dirtied into a page
    // — two good sentences, a javascript line, a bare source tag, a
    // 2-word line, a conditional third good line (doc_id % 3), and
    // conditional lorem-ipsum / curly-brace page poisons — then every
    // rule fires: page gates drop the poisoned docs whole, line gates
    // keep exactly the sentence-shaped lines, floor >= 2 lines
    Case("q_c4_clean", (s, dir) => {
      val dirty = t(s, dir, "documents").select(col("doc_id"),
        concat(
          col("text"), lit(".\n"),
          lit("enable javascript to continue.\n"),
          col("source"), lit("\n"),
          lit("too short.\n"),
          when(col("doc_id") % 3 === 0,
            lit("this extra line stays here!\n")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0,
            lit("lorem ipsum dolor sit.\n")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0,
            lit("a curly { brace here.\n")).otherwise(lit("")),
          col("text"), lit(" indeed?")).as("text"))
      Dedup.c4Clean(dirty, "doc_id", "text",
        minLineWords = 3, minLines = 2)
        .orderBy("doc_id")
    },
      // C4 cleaning: same deterministic dirtying, then page gates
      // (lorem ipsum / curly brace), line gates (terminal punctuation,
      // >= 3 words, no javascript), >= 2 surviving lines, ordered
      // reassembly
      oracle("""WITH dirty AS (
          |  SELECT doc_id,
          |    text || '.' || chr(10) ||
          |    'enable javascript to continue.' || chr(10) ||
          |    source || chr(10) ||
          |    'too short.' || chr(10) ||
          |    CASE WHEN doc_id % 3 = 0
          |      THEN 'this extra line stays here!' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 97 = 0
          |      THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 89 = 0
          |      THEN 'a curly { brace here.' || chr(10) ELSE '' END ||
          |    text || ' indeed?' AS text
          |  FROM documents),
          |pages AS (SELECT * FROM dirty
          |  WHERE NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{')),
          |lines AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10)),
          |      (x, i) -> {'idx': i - 1, 'line': x}), recursive := true)
          |  FROM pages),
          |kept AS (SELECT doc_id, idx, line FROM lines
          |  WHERE regexp_matches(trim(line), '[.!?"]$')
          |    AND len(list_filter(string_split(lower(trim(line)), ' '),
          |          t -> len(t) > 0)) >= 3
          |    AND NOT contains(lower(line), 'javascript'))
          |SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
          |       string_agg(line, chr(10) ORDER BY idx) AS text
          |FROM kept GROUP BY doc_id
          |HAVING count(*) >= 2
          |ORDER BY doc_id""".stripMargin)),

    // Naive-Bayes document-quality classifier (the GPT-3/LLaMA
    // "reference-like" filter): positive class = the English slice,
    // negative = the whole corpus; average per-token Laplace likelihood
    // ratio over a top-64 vocab, fixed-point exact mean
    Case("q_quality_nb", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.llm.TextStats.nbQualityScore(d,
        d.filter(col("lang") === "en"), "doc_id", "text", "text",
        topV = 64)
        .orderBy("doc_id")
    },
      // Naive-Bayes quality score: top-64 vocab by combined count (ties
      // to token asc), totals over the FULL class token streams, exact
      // HUGEINT products -> one division per term -> the fixed-point
      // mean recipe at 1e12. Identical tokens in a doc share one term
      // value, so every token-instance stream is pre-aggregated to
      // (doc_id, w, c) / (w, cp) counts BEFORE any join — the round-10
      // oracle replay OOM'd because the two raw unnest CTEs (referenced
      // 2-3x each, and DuckDB 1.0 inlines every reference) materialized
      // corpus x tokens rows repeatedly; counts bound peak memory at
      // doc x distinct-token size instead. Weighted fold (sum(c * ...)
      // / sum(c)) is arithmetically exact vs the per-instance original.
      oracle(s"""WITH dt AS (
           |  SELECT doc_id, w, count(*)::BIGINT AS c
           |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents)
           |  GROUP BY doc_id, w),
           |cpos AS (
           |  SELECT w, count(*)::BIGINT AS cp
           |  FROM (SELECT unnest($toksSql) AS w
           |        FROM documents WHERE lang = 'en')
           |  GROUP BY w),
           |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
           |vocab AS (
           |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
           |         coalesce(cn, 0)::BIGINT AS cn
           |  FROM cpos FULL OUTER JOIN cneg USING (w)
           |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
           |  LIMIT 64),
           |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
           |                        0)::BIGINT AS np,
           |               coalesce((SELECT sum(c) FROM dt),
           |                        0)::BIGINT AS nn,
           |               (SELECT count(*) FROM vocab)::BIGINT AS v),
           |docs AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens
           |  FROM dt GROUP BY doc_id),
           |dv AS (
           |  SELECT dt.doc_id, sum(dt.c)::BIGINT AS n_v,
           |    sum(dt.c::HUGEINT * floor(
           |      ((vo.cp + 1)::HUGEINT
           |         * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |      ((vo.cn + 1)::HUGEINT
           |         * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |      * 1e12)::HUGEINT) AS s_v
           |  FROM dt JOIN vocab vo USING (w) CROSS JOIN tot
           |  GROUP BY dt.doc_id)
           |SELECT d.doc_id, d.n_tokens,
           |  (d.n_tokens - coalesce(dv.n_v, 0))::BIGINT AS n_oov,
           |  ((coalesce(dv.s_v, 0::HUGEINT)
           |    + (d.n_tokens - coalesce(dv.n_v, 0))::HUGEINT
           |      * floor((1::HUGEINT
           |          * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
           |        (1::HUGEINT
           |          * (tot.np + tot.v)::HUGEINT)::DOUBLE
           |        * 1e12)::HUGEINT)::DOUBLE
           |   / d.n_tokens / 1e12) AS score
           |FROM docs d LEFT JOIN dv USING (doc_id) CROSS JOIN tot
           |ORDER BY d.doc_id""".stripMargin),
      materializeCtes = true),

    // corpus dataset card: one rollup pass over (lang, source) — doc/
    // token/char volumes, EXACT distinct-content count, Gopher pass
    // count, duplicate fraction; subtotal rows via ROLLUP
    Case("q_corpus_card", (s, dir) =>
      graft.llm.TextStats.corpusCard(
        t(s, dir, "documents").withColumn("text",
          Text.asciiOracleGuard(col("text"), "q_corpus_card")), "text",
        Seq("lang", "source"))
        .orderBy(col("lang").asc_nulls_first,
          col("source").asc_nulls_first),
      // dataset card: ROLLUP over (lang, source); fingerprint = md5 of
      // the space-joined token list (the Text.fingerprint replay);
      // gopher gate replayed with the q_gopher_rules thresholds
      oracle(s"""WITH staged AS (
           |  SELECT lang, source, $toksSql AS ts,
           |         substr(md5(array_to_string($toksSql, ' ')), 1, 16)
           |           AS fp,
           |         len(text)::BIGINT AS nc
           |  FROM documents)
           |SELECT lang, source,
           |  count(*)::BIGINT AS n_docs,
           |  sum(len(ts))::BIGINT AS n_tokens,
           |  sum(nc)::BIGINT AS n_chars,
           |  count(DISTINCT fp)::BIGINT AS n_distinct,
           |  sum(CASE WHEN
           |    len(ts) BETWEEN 50 AND 100000
           |    AND CAST(list_sum(list_transform(ts, t -> len(t)))
           |        AS DOUBLE) / len(ts) BETWEEN 3.0 AND 10.0
           |    AND CAST(len(list_filter(ts,
           |        t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
           |        / len(ts) >= 0.8
           |    AND CAST(len(list_filter(ts, t -> contains(t, '#')
           |        OR contains(t, '...'))) AS DOUBLE) / len(ts) <= 0.1
           |    AND len(list_filter(ts, t -> list_contains(
           |        ['the', 'be', 'to', 'of', 'and', 'that', 'have',
           |         'with'], t))) >= 2
           |    THEN 1 ELSE 0 END)::BIGINT AS n_gopher_pass,
           |  (count(*) - count(DISTINCT fp))::DOUBLE
           |    / count(*)::DOUBLE AS dup_frac
           |FROM staged
           |GROUP BY ROLLUP (lang, source)
           |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    // composed INGEST pipeline — this round's cleaning battery end to
    // end: C4 page/line cleaning over the dirtied corpus -> overlap-
    // fraction decontamination of the CLEANED text against the
    // benchmark slice -> NB quality scoring trained on the survivors
    // themselves (ref = their English slice) — every stage oracled
    // individually, the composition hash-matched as a whole
    Case("q_pipeline_ingest", (s, dir) => {
      val d = t(s, dir, "documents")
      val dirty = d.select(col("doc_id"),
        concat(
          col("text"), lit(".\n"),
          lit("enable javascript to continue.\n"),
          col("source"), lit("\n"),
          lit("too short.\n"),
          when(col("doc_id") % 3 === 0,
            lit("this extra line stays here!\n")).otherwise(lit("")),
          when(col("doc_id") % 97 === 0,
            lit("lorem ipsum dolor sit.\n")).otherwise(lit("")),
          when(col("doc_id") % 89 === 0,
            lit("a curly { brace here.\n")).otherwise(lit("")),
          col("text"), lit(" indeed?")).as("text"))
      val cleaned = Dedup.c4Clean(dirty, "doc_id", "text",
        minLineWords = 3, minLines = 2)
      val nonBench = cleaned.filter(col("doc_id") % 17 =!= 0)
      val contaminated = Dedup.contaminationFraction(
        nonBench, d.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", shingleSize = 3, minFrac = 0.05)
        .select(col("id").as("doc_id"))
      // stage boundary: the NB stage reads the survivor frame several
      // times (both class token streams, two totals, the final join) —
      // unpersisted, each read would re-run cleaning + decontamination
      // (measured 15s -> 2s at sf0.001; at 100 TB this materialization
      // is the difference between 1 pass and ~6 over the corpus).
      // SCOPED cache (Ops.withPersisted): dropped when the result is
      // materialized, so long-lived sessions reusing this operator
      // don't accumulate survivor-sized caches; the result detaches
      // via eager localCheckpoint per the helper's contract.
      Ops.withPersisted(nonBench
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(d.select("doc_id", "lang"), Seq("doc_id"))) { survivors =>
        val scored = graft.llm.TextStats.nbQualityScore(survivors,
          survivors.filter(col("lang") === "en"), "doc_id", "text",
          "text", topV = 64)
        survivors.select("doc_id", "n_lines_kept")
          .join(scored, Seq("doc_id"))
          .orderBy("doc_id")
          .localCheckpoint()
      }
    },
      // composed ingest pipeline: the q_c4_clean stage verbatim, its
      // survivors decontaminated by overlap fraction vs the ORIGINAL
      // benchmark slice (multi-line tokens need the \s+ regexp
      // normalization — the single-space toks macro under-splits
      // reassembled text), then the q_quality_nb stage trained on the
      // survivors themselves
      oracle("""WITH dirty AS (
          |  SELECT doc_id,
          |    text || '.' || chr(10) ||
          |    'enable javascript to continue.' || chr(10) ||
          |    source || chr(10) ||
          |    'too short.' || chr(10) ||
          |    CASE WHEN doc_id % 3 = 0
          |      THEN 'this extra line stays here!' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 97 = 0
          |      THEN 'lorem ipsum dolor sit.' || chr(10) ELSE '' END ||
          |    CASE WHEN doc_id % 89 = 0
          |      THEN 'a curly { brace here.' || chr(10) ELSE '' END ||
          |    text || ' indeed?' AS text
          |  FROM documents),
          |pages AS (SELECT * FROM dirty
          |  WHERE NOT contains(lower(text), 'lorem ipsum')
          |    AND NOT contains(text, '{')),
          |lns AS (
          |  SELECT doc_id,
          |    unnest(list_transform(string_split(text, chr(10)),
          |      (x, i) -> {'idx': i - 1, 'line': x}), recursive := true)
          |  FROM pages),
          |kept AS (SELECT doc_id, idx, line FROM lns
          |  WHERE regexp_matches(trim(line), '[.!?"]$')
          |    AND len(list_filter(string_split(lower(trim(line)), ' '),
          |          t -> len(t) > 0)) >= 3
          |    AND NOT contains(lower(line), 'javascript')),
          |cleaned AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
          |         string_agg(line, chr(10) ORDER BY idx) AS text
          |  FROM kept GROUP BY doc_id HAVING count(*) >= 2),
          |ctoks AS (SELECT doc_id, list_filter(string_split(
          |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |    t -> len(t) > 0) AS ts
          |  FROM cleaned WHERE doc_id % 17 <> 0),
          |csets AS (
          |  SELECT doc_id, list_distinct(list_transform(
          |    generate_series(1, greatest(len(ts) - 2, 0)),
          |    i -> array_to_string(list_slice(ts, i, i + 2), ' '))) AS sh
          |  FROM ctoks WHERE len(ts) >= 3),
          |ce AS (SELECT doc_id, len(sh)::BIGINT AS n_shingles,
          |              unnest(sh) AS s
          |       FROM csets WHERE len(sh) > 0),
          |btoks AS (SELECT list_filter(string_split(lower(trim(text)),
          |    ' '), t -> len(t) > 0) AS ts
          |  FROM documents WHERE doc_id % 17 = 0),
          |b AS (SELECT DISTINCT s FROM (
          |  SELECT unnest(list_distinct(list_transform(
          |    generate_series(1, greatest(len(ts) - 2, 0)),
          |    i -> array_to_string(list_slice(ts, i, i + 2), ' ')))) AS s
          |  FROM btoks WHERE len(ts) >= 3)),
          |contaminated AS (
          |  SELECT ce.doc_id FROM ce LEFT JOIN b ON ce.s = b.s
          |  GROUP BY ce.doc_id, ce.n_shingles
          |  HAVING count(b.s)::DOUBLE / ce.n_shingles::DOUBLE >= 0.05),
          |surv AS (
          |  SELECT c.doc_id, c.n_lines_kept, c.text, d.lang
          |  FROM cleaned c JOIN documents d USING (doc_id)
          |  WHERE c.doc_id % 17 <> 0
          |    AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
          |dt AS (SELECT doc_id, w, count(*)::BIGINT AS c
          |  FROM (SELECT doc_id, unnest(list_filter(string_split(
          |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |      t -> len(t) > 0)) AS w
          |    FROM surv)
          |  GROUP BY doc_id, w),
          |cpos AS (SELECT w, count(*)::BIGINT AS cp
          |  FROM (SELECT unnest(list_filter(string_split(
          |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
          |      t -> len(t) > 0)) AS w
          |    FROM surv WHERE lang = 'en')
          |  GROUP BY w),
          |cneg AS (SELECT w, sum(c)::BIGINT AS cn FROM dt GROUP BY w),
          |vocab AS (
          |  SELECT w, coalesce(cp, 0)::BIGINT AS cp,
          |         coalesce(cn, 0)::BIGINT AS cn
          |  FROM cpos FULL OUTER JOIN cneg USING (w)
          |  ORDER BY (coalesce(cp, 0) + coalesce(cn, 0)) DESC, w ASC
          |  LIMIT 64),
          |tot AS (SELECT coalesce((SELECT sum(cp) FROM cpos),
          |                        0)::BIGINT AS np,
          |               coalesce((SELECT sum(c) FROM dt),
          |                        0)::BIGINT AS nn,
          |               (SELECT count(*) FROM vocab)::BIGINT AS v),
          |terms AS (
          |  SELECT dt.doc_id, dt.c, vo.cp, vo.cn,
          |    ((coalesce(vo.cp, 0) + 1)::HUGEINT
          |       * (tot.nn + tot.v)::HUGEINT)::DOUBLE /
          |    ((coalesce(vo.cn, 0) + 1)::HUGEINT
          |       * (tot.np + tot.v)::HUGEINT)::DOUBLE AS term
          |  FROM dt LEFT JOIN vocab vo USING (w) CROSS JOIN tot),
          |scored AS (
          |  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
          |    sum(CASE WHEN cp IS NULL AND cn IS NULL THEN c ELSE 0
          |        END)::BIGINT AS n_oov,
          |    (sum(c::HUGEINT * floor(term * 1e12)::HUGEINT)::DOUBLE
          |       / sum(c) / 1e12) AS score
          |  FROM terms GROUP BY doc_id)
          |SELECT s.doc_id, s.n_lines_kept, sc.n_tokens, sc.n_oov,
          |       sc.score
          |FROM surv s JOIN scored sc USING (doc_id)
          |ORDER BY s.doc_id""".stripMargin),
      materializeCtes = true),

    // SQ8 scalar quantization: per-dim affine int8 codes against the
    // corpus's own [min, max] ranges — the codebook-free compression
    // leg (FAISS QT_8bit), complementing PQ's subspace codebooks
    Case("q_sq_codes", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val st = graft.llm.Sq.stats(e, "embedding")
      graft.llm.Sq.encode(e, "vec_id", "embedding", st)
        .select(col("id").as("vec_id"), posexplode(col("code")))
        .select(col("vec_id"), col("pos"), col("col").as("code"))
        .orderBy("vec_id", "pos")
    },
      // SQ8 forward map replay: exact per-dim min/max, then the same
      // floor(((x - mn) * 255) / (mx - mn)) affine, clamped
      oracle("""WITH pos AS (SELECT i FROM unnest(generate_series(1, 64)) AS t(i)),
          |vals AS (SELECT e.vec_id, p.i, e.embedding[p.i]::DOUBLE AS x
          |         FROM embeddings e CROSS JOIN pos p),
          |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
          |codes AS (SELECT v.vec_id, v.i,
          |  CASE WHEN st.mx = st.mn THEN 0
          |       ELSE least(255, greatest(0,
          |         CAST(floor(((v.x - st.mn) * 255.0) / (st.mx - st.mn))
          |              AS BIGINT)))
          |  END AS code
          |  FROM vals v JOIN st USING (i))
          |SELECT vec_id, CAST(i - 1 AS INT) AS pos, CAST(code AS INT) AS code
          |FROM codes ORDER BY vec_id, pos""".stripMargin)),

    // ADC top-5 per query over SQ8 codes: exact query vector vs
    // decoded corpus codes, ascending-dimension squared-L2 fold,
    // ties to the smaller neighbor id
    Case("q_sq_search", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val st = graft.llm.Sq.stats(e, "embedding")
      graft.llm.Sq.adcTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", st, k = 5)
        .orderBy("query_id", "rank")
    },
      // SQ8 ADC replay: decode = mn + code * ((mx - mn) / 255); the
      // approximate distance folds (q_i - decoded_i)^2 in ascending
      // dimension order (list(... ORDER BY i) -> sequential reduce),
      // matching Sq.adcTopK's left-to-right aggregate; ties to the
      // smaller neighbor id
      oracle("""WITH pos AS (SELECT i FROM unnest(generate_series(1, 64)) AS t(i)),
          |vals AS (SELECT e.vec_id, p.i, e.embedding[p.i]::DOUBLE AS x
          |         FROM embeddings e CROSS JOIN pos p),
          |st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
          |codes AS (SELECT v.vec_id, v.i,
          |  CASE WHEN st.mx = st.mn THEN 0
          |       ELSE least(255, greatest(0,
          |         CAST(floor(((v.x - st.mn) * 255.0) / (st.mx - st.mn))
          |              AS BIGINT)))
          |  END AS code
          |  FROM vals v JOIN st USING (i)),
          |dec AS (SELECT c.vec_id, c.i,
          |          st.mn + c.code * ((st.mx - st.mn) / 255.0) AS vd
          |        FROM codes c JOIN st USING (i)),
          |q AS (SELECT vec_id AS query_id, i, x FROM vals WHERE vec_id < 5),
          |d AS (SELECT q.query_id, dec.vec_id AS nbr_id,
          |        list_reduce(list_prepend(0.0,
          |          list((q.x - dec.vd) * (q.x - dec.vd) ORDER BY q.i)),
          |          (a, y) -> a + y) AS adc
          |      FROM q JOIN dec ON q.i = dec.i
          |      WHERE dec.vec_id <> q.query_id
          |      GROUP BY q.query_id, dec.vec_id)
          |SELECT query_id, nbr_id, adc_dist, rank FROM (
          |  SELECT query_id, nbr_id, adc AS adc_dist, row_number() OVER (
          |    PARTITION BY query_id ORDER BY adc, nbr_id) AS rank FROM d)
          |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // integer fixed-point PageRank (damping 85/100, scale 1e9, 3 exact
    // iterations) over the per-user event-type transition graph — the
    // centrality-weighting leg of corpus curation; exact integer ops
    // make the ranks partitioning-independent and SQL-replayable
    Case("q_pagerank", (s, dir) => {
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 3)
        .orderBy("node")
    },
      // integer fixed-point PageRank replay: the 3 power iterations
      // unrolled as CTE pairs (per-edge floor-div contribution, damped
      // floor-div update) — every op exact integer arithmetic, so the
      // HUGEINT sums cast back to the engine's longs bit-for-bit
      oracle {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST(150000000 + coalesce((c$i.s * 85) // 100, 0) AS BIGINT)
             |    AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
      },
      materializeCtes = true),

    // Z-order layout keys over (value, user_id): Morton interleave of
    // 8-bit affine rank buckets against the corpus min/max — the
    // write-time multi-dimensional clustering that makes file-level
    // min/max stats prune on EVERY interleaved column
    Case("q_zorder", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(col("event_id"),
        graft.operators.Layout.zorderKey(ev, Seq("value", "user_id"), 8)
          .as("zkey"))
        .orderBy("event_id")
    },
      // Z-order replay: the SQ8 affine bucket at 8 bits per column,
      // then the Morton interleave as an explicit shift/mask OR chain
      oracle {
        val terms = (0 until 8).map { b =>
          s"((((b0 >> $b) & 1) << ${2 * b}) | (((b1 >> $b) & 1) << ${2 * b + 1}))"
        }.mkString(" | ")
        s"""WITH st AS (SELECT min(value) AS mnv, max(value) AS mxv,
           |                   min(CAST(user_id AS DOUBLE)) AS mnu,
           |                   max(CAST(user_id AS DOUBLE)) AS mxu
           |            FROM events),
           |b AS (SELECT e.event_id,
           |  least(255, greatest(0, CAST(floor(
           |    ((e.value - st.mnv) * 255.0) / (st.mxv - st.mnv))
           |    AS BIGINT))) AS b0,
           |  least(255, greatest(0, CAST(floor(
           |    ((CAST(e.user_id AS DOUBLE) - st.mnu) * 255.0)
           |      / (st.mxu - st.mnu)) AS BIGINT))) AS b1
           |  FROM events e CROSS JOIN st)
           |SELECT event_id, CAST($terms AS BIGINT) AS zkey
           |FROM b ORDER BY event_id""".stripMargin
      }),

    // personalized PageRank: teleport mass lands only on the seed
    // nodes ('purchase', 'signup') — authority flows out from the
    // trusted set, the domain-whitelist weighting of corpus curation
    Case("q_pagerank_seeded", (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val edges = graft.llm.Graph.transitionEdges(ev, "user_id",
        "event_type", Seq(col("ts"), col("event_id")))
      graft.llm.Graph.pageRank(edges, "src", "dst", iters = 3,
        seeds = Some(Seq("purchase", "signup").toDF("node")))
        .orderBy("node")
    },
      // personalized PageRank replay: identical to q_pagerank except
      // the teleport base lands only on the seed nodes
      oracle {
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT e.dst, sum((r.rank * e.w) // o.ow) AS s
             |  FROM e0 e JOIN ow o USING (src)
             |  JOIN r${i - 1} r ON r.node = e.src
             |  GROUP BY e.dst),
             |r$i AS (SELECT n.node,
             |  CAST((CASE WHEN n.node IN ('purchase', 'signup')
             |        THEN 150000000 ELSE 0 END)
             |    + coalesce((c$i.s * 85) // 100, 0) AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ed AS (
           |  SELECT lag(event_type) OVER (
           |           PARTITION BY user_id ORDER BY ts, event_id) AS src,
           |         event_type AS dst
           |  FROM events),
           |e0 AS (SELECT src, dst, count(*)::BIGINT AS w FROM ed
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |ow AS (SELECT src, sum(w)::BIGINT AS ow FROM e0 GROUP BY src),
           |nodes AS (SELECT DISTINCT node FROM (
           |  SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
           |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes),
           |$iterCtes
           |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
      },
      materializeCtes = true),

    // Markov transition matrix of the event-type graph: per (src, dst)
    // the transition count and probability (one IEEE division over
    // exact integer counts)
    Case("q_transitions", (s, dir) => {
      val ev = t(s, dir, "events")
      graft.llm.Graph.transitionCounts(
        graft.llm.Graph.transitionEdges(ev, "user_id", "event_type",
          Seq(col("ts"), col("event_id"))), "src", "dst")
        .orderBy("src", "dst")
    },
      // Markov transition matrix: exact counts, one double division
      oracle(transitionsSql)),

    // ordered funnel view -> click -> purchase: per user the furthest
    // step reached, step k strictly after the matched step k-1 event
    // (greedy-earliest matching — optimal for reachability)
    Case("q_funnel", (s, dir) =>
      graft.operators.Funnel.funnel(t(s, dir, "events"), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      // funnel replay: chained earliest-after min aggregations
      oracle("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
          |       JOIN s1 ON e.user_id = s1.user_id
          |       WHERE e.event_type = 'click' AND e.ts > s1.t1
          |       GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
          |       JOIN s2 ON e.user_id = s2.user_id
          |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          |       GROUP BY e.user_id)
          |SELECT s1.user_id,
          |       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
          |                 WHEN s2.user_id IS NOT NULL THEN 2
          |                 ELSE 1 END AS INT) AS depth
          |FROM s1
          |LEFT JOIN s2 ON s1.user_id = s2.user_id
          |LEFT JOIN s3 ON s1.user_id = s3.user_id
          |ORDER BY s1.user_id""".stripMargin)),

    // the conversion curve: users reaching at least step k
    Case("q_funnel_counts", (s, dir) =>
      graft.operators.Funnel.funnelCounts(
        graft.operators.Funnel.funnel(t(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase")),
        nSteps = 3),
      oracle(funnelCountsSql)),

    // weekly cohort retention: cohort = ISO week of first touch,
    // period = floor(days since first event / 7), exact distinct users
    Case("q_retention", (s, dir) =>
      graft.operators.Retention.weekly(t(s, dir, "events"),
        "user_id", "ts"),
      // weekly cohort retention replay: first-touch day, ISO-week
      // cohort, integer day arithmetic, exact distinct users
      oracle("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0
          |           FROM events GROUP BY user_id),
          |c AS (SELECT user_id,
          |        CAST(date_trunc('week', d0) AS DATE) AS cohort, d0
          |      FROM f)
          |SELECT c.cohort,
          |  CAST(floor(date_diff('day', c.d0, CAST(e.ts AS DATE)) / 7)
          |       AS INT) AS period,
          |  count(DISTINCT e.user_id)::BIGINT AS users
          |FROM events e JOIN c ON e.user_id = c.user_id
          |GROUP BY 1, 2 ORDER BY cohort, period""".stripMargin)),

    // the retention matrix at HLL precision (p=6): per-cell register
    // sketches replace the exact distinct — mergeable across days,
    // map-side-combined at any user cardinality; the whole estimate
    // chain replays bit-exact through the OracleXxh XXH64 macros
    Case("q_retention_hll", (s, dir) =>
      graft.operators.Retention.weeklyHll(t(s, dir, "events"),
        "user_id", "ts", p = 6),
      oracle(OracleXxh.q_retention_hll)),

    // single-pass column profiler over events: per column the row/NULL
    // counts, exact distincts, and numeric range (NULL for non-numeric
    // via try_cast) — the nightly ingest audit
    Case("q_profile", (s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "events"),
        Seq("event_id", "user_id", "event_type", "value", "props")),
      oracle {
        val cols = Seq("event_id", "user_id", "event_type", "value",
          "props")
        val aggs = cols.zipWithIndex.map { case (c, i) =>
          s"""count($c) AS c$i, count(DISTINCT $c) AS d$i,
             |  min(TRY_CAST($c AS DOUBLE)) AS mn$i,
             |  max(TRY_CAST($c AS DOUBLE)) AS mx$i""".stripMargin
        }.mkString(",\n  ")
        val branches = cols.zipWithIndex.map { case (c, i) =>
          s"""SELECT '$c' AS col_name, n, n - c$i AS nulls,
             |  d$i AS n_distinct, mn$i AS min_num, mx$i AS max_num
             |FROM a""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH a AS (SELECT count(*) AS n,
           |  $aggs
           |FROM events)
           |$branches
           |ORDER BY col_name""".stripMargin
      }),

    // declarative data-quality contract (the Deequ category, the
    // corpus-scale assert_): six checks compiled into one aggregate
    // pass + the Unique distinct — one row per check, exact counts
    Case("q_quality_checks", (s, dir) =>
      graft.operators.Quality.report(t(s, dir, "lineitem"), Seq(
        graft.operators.Quality.NotNull("l_orderkey"),
        graft.operators.Quality.Unique(
          Seq("l_orderkey", "l_linenumber")),
        graft.operators.Quality.InRange("l_discount", 0.0, 0.1),
        graft.operators.Quality.InRange("l_quantity", 1.0, 50.0),
        graft.operators.Quality.Matches("l_returnflag", "^[ARN]$"),
        graft.operators.Quality.MinRows(1000L)))
        .orderBy("check_id"),
      // profiler replay: one aggregate row, pivoted per column
      // data-quality replay: each check recomputed as its plain SQL
      // count, unioned in spec order
      oracle("""WITH n AS (SELECT count(*)::BIGINT AS nr FROM lineitem),
          |r AS (
          |  SELECT 1::BIGINT AS check_id, 'not_null' AS "check",
          |    'l_orderkey' AS detail, n.nr AS n_rows,
          |    (SELECT count(*) FROM lineitem
          |     WHERE l_orderkey IS NULL)::BIGINT AS violations FROM n
          |  UNION ALL
          |  SELECT 2, 'unique', 'l_orderkey,l_linenumber', n.nr,
          |    (n.nr - (SELECT count(*) FROM
          |       (SELECT DISTINCT l_orderkey, l_linenumber
          |        FROM lineitem)))::BIGINT FROM n
          |  UNION ALL
          |  SELECT 3, 'in_range', 'l_discount in [0.0, 0.1]', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_discount IS NOT
          |     NULL AND (l_discount < 0.0 OR l_discount > 0.1))::BIGINT
          |  FROM n
          |  UNION ALL
          |  SELECT 4, 'in_range', 'l_quantity in [1.0, 50.0]', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_quantity IS NOT
          |     NULL AND (l_quantity < 1.0 OR l_quantity > 50.0))::BIGINT
          |  FROM n
          |  UNION ALL
          |  SELECT 5, 'matches', 'l_returnflag ~ ^[ARN]$', n.nr,
          |    (SELECT count(*) FROM lineitem WHERE l_returnflag IS NOT
          |     NULL AND NOT regexp_matches(l_returnflag, '^[ARN]$'))
          |      ::BIGINT FROM n
          |  UNION ALL
          |  SELECT 6, 'min_rows', '>= 1000', n.nr,
          |    greatest(1000 - n.nr, 0)::BIGINT FROM n)
          |SELECT check_id, "check", detail, n_rows, violations,
          |       violations = 0 AS pass
          |FROM r ORDER BY check_id""".stripMargin),
      materializeCtes = true)
  )
}
