package graft.queries

import graft.fixtures.{DocGen, Vocab}
import graft.image.SynthRenderer
import graft.queries.OcrQueries.{rawLineSql, s1, s2, vocabCase}
import graft.queries.QueryInputs._
import org.apache.spark.sql.functions._

/** Multimodal payloads (`mm_*`): frames, audio, resize, PNG and media
  * metadata, each decoded inside the task; the oracles state the
  * closed-form dims and text of the synthetic renders.
  */
object MediaQueries {

  /** Angle index of a doc's first and second image span. */
  private val a1i = s"(doc_id % ${Vocab.Angles.length})"
  private val a2i = s"((doc_id // 5) % ${Vocab.Angles.length})"

  // image dims: width depends on the sentence; height on sentence+angle
  private def dimCase(sentIdx: String, angIdx: String, which: String): String =
    s"(CASE $sentIdx " + Vocab.Sentences.indices.map { i =>
      val inner = s"(CASE $angIdx " + Vocab.Angles.indices.map { j =>
        val (w, h) = SynthRenderer.dimensions(Vocab.Sentences(i), Vocab.Angles(j))
        s"WHEN $j THEN ${if (which == "w") w else h}"
      }.mkString(" ") + " END)"
      s"WHEN $i THEN $inner"
    }.mkString(" ") + " END)"

  val specs: Seq[QuerySpec] = Seq(
    // Multimodal: frame sampling over multi-frame payloads ("video"):
    // decode -> split frames -> sample every 2nd -> per-frame metadata
    QuerySpec("mm_frame_sample", (s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val text = Vocab.Sentences(Vocab.sentenceIdx1(id))
        val nFrames = (id % 4 + 2).toInt
        val ref = graft.image.FrameCodec.ref(text, nFrames, id)
        val frames = graft.image.FrameCodec.split(graft.image.FrameCodec.fetch(ref))
        val sampled = graft.image.FrameCodec.frameSample(frames, 2)
        (id, frames.size.toLong, sampled.size.toLong,
          sampled.head.width.toLong, sampled.head.height.toLong)
      }.toDF("doc_id", "n_frames", "n_sampled", "width", "height")
    },
      oracle = {
        val dims = Vocab.Sentences.map(t => SynthRenderer.dimensions(t, 0))
        s"SELECT doc_id, CAST((doc_id % 4 + 2) AS BIGINT) AS n_frames, " +
          s"CAST((doc_id % 4 + 2 + 1) // 2 AS BIGINT) AS n_sampled, " +
          s"CAST(${vocabCase(s1, i => dims(i)._1.toString)} AS BIGINT) AS width, " +
          s"CAST(${vocabCase(s1, i => dims(i)._2.toString)} AS BIGINT) AS height FROM documents"
      }),

    // Multimodal AUDIO: opaque PCM payload -> decode -> windowed
    // feature extraction (rms + zero crossings), the audio face of the
    // decode/feature-extract path. Square-wave synthesis makes every
    // feature closed-form in the ref parameters, so the oracle states
    // them exactly (see AudioCodec).
    QuerySpec("mm_audio_features", (s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val n = (8000 + (id % 5) * 1000).toInt
        val period = (40 + (id % 7) * 8).toInt
        val amp = (1000 + (id % 3) * 500).toInt
        val ref = graft.image.AudioCodec.ref(id, n, period, amp)
        val f = graft.image.AudioCodec.features(
          graft.image.AudioCodec.decode(graft.image.AudioCodec.fetch(ref)))
        (id, f.nSamples,
          BigDecimal(f.rms).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          f.zeroCrossings)
      }.toDF("doc_id", "n_samples", "rms", "zero_crossings")
    },
      oracle = ("SELECT doc_id, CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS n_samples, " +
          "round(CAST(1000 + (doc_id % 3) * 500 AS DOUBLE), 6) AS rms, " +
          "CAST((8000 + (doc_id % 5) * 1000 - 1) // ((40 + (doc_id % 7) * 8) // 2) AS BIGINT) AS zero_crossings " +
          "FROM documents")),

    // Multimodal: deterministic nearest-neighbor resize (the
    // cost-bounding step before per-frame inference): decode -> halve
    // -> emit source + target dims
    QuerySpec("mm_resize", (s, dir) => {
      import s.implicits._
      salted(docs(s, dir).select(col("doc_id")).as[Long]).map { id =>
        val ref = graft.image.SynthMediaStore.ref(
          Vocab.Sentences(Vocab.sentenceIdx1(id)), Vocab.Angles(Vocab.angleIdx1(id)), 0, id)
        val img = graft.image.ImageCodec.decode(graft.image.SynthMediaStore.fetch(ref))
        val half = graft.image.ImageOps.resize(img, img.width / 2, img.height / 2)
        (id, img.width.toLong, img.height.toLong, half.width.toLong, half.height.toLong)
      }.toDF("doc_id", "width", "height", "half_width", "half_height")
    },
      oracle = (s"SELECT doc_id, CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, " +
          s"CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height, " +
          s"CAST(${dimCase(s1, a1i, "w")} // 2 AS BIGINT) AS half_width, " +
          s"CAST(${dimCase(s1, a1i, "h")} // 2 AS BIGINT) AS half_height FROM documents")),

    // Multimodal: PNG media path end-to-end — render -> PNG encode
    // (stored-deflate, from-scratch codec) -> magic-sniff decode ->
    // full OCR. Same pixels as the PGM path, so the oracle states
    // dims + recognized text identically; exercises the reference's
    // actual page-render format (smart.py:91-96).
    QuerySpec("mm_png_decode", (s, dir) => {
      import s.implicits._
      ocrMapPartitions(docs(s, dir).select(col("doc_id")).as[Long]) { (id, engine) =>
        val img = fetchImage(graft.image.SynthMediaStore.refPng(
          Vocab.Sentences(Vocab.sentenceIdx1(id)), Vocab.Angles(Vocab.angleIdx1(id)),
          Vocab.Noises(Vocab.noiseIdx1(id)), id))
        Iterator.single((id, img.width.toLong, img.height.toLong, engine.recognize(img).text))
      }.toDF("doc_id", "width", "height", "png_text")
    },
      oracle = s"SELECT doc_id, CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, " +
        s"CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height, " +
        s"${rawLineSql(s1)} AS png_text FROM documents"),

    // Multimodal: media metadata (decode the span images, emit dims)
    QuerySpec("mm_media_meta", (s, dir) => {
      import s.implicits._
      salted(DocGen.fromDriverDocs(s, dir))
        .flatMap { d =>
          d.spans.filter(_.kind == "image").map { sp =>
            val img = graft.image.PgmCodec.decode(graft.image.SynthMediaStore.fetch(sp.media_ref))
            (d.doc_id, sp.offset.toLong, img.width.toLong, img.height.toLong)
          }
        }
        .toDF("doc_id", "offset", "width", "height")
    },
      oracle = (s"SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS doc_id, CAST(1 AS BIGINT) AS offset, " +
          s"CAST(${dimCase(s1, a1i, "w")} AS BIGINT) AS width, CAST(${dimCase(s1, a1i, "h")} AS BIGINT) AS height FROM documents " +
          s"UNION ALL SELECT 'doc-' || CAST(doc_id AS VARCHAR), 2, " +
          s"CAST(${dimCase(s2, a2i, "w")} AS BIGINT), CAST(${dimCase(s2, a2i, "h")} AS BIGINT) FROM documents"))
  )
}
