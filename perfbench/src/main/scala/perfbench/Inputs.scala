package perfbench

import graft.fixtures.Vocab
import graft.model.{Doc, Span}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.collection.mutable

/** Seeded input generators for the three workloads. Every draw comes
  * from one splitmix64 stream per document, so the same seed gives the
  * same corpus byte for byte (`digest` shows it run to run) and a
  * different seed a different one.
  */
object Inputs {

  final class Rng(seed: Long) {
    private var s = seed
    def next(): Long = { s = mix(s); s }
    def int(bound: Int): Int = ((next() >>> 1) % bound).toInt
    def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
  }

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def docRng(seed: Long, i: Int): Rng = new Rng(mix(seed ^ (i.toLong * 0x9e3779b97f4a7c15L)))

  /** One scanned page: the ground-truth text and its render parameters. */
  final case class Page(ref: String, text: String, angle: Int, noise: Int, seed: Long)

  final case class Corpus(docs: IndexedSeq[Doc], pages: IndexedSeq[Page], props: Seq[(String, String)]) {
    def spanCount: Long = docs.iterator.map(_.spans.size.toLong).sum
  }

  def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** Shape of an interleaved-document corpus. Hot documents follow
    * `DocGen.syntheticDoc`'s skew: 5% of documents (always document 0)
    * carry `hotFactor` times the span budget, all of it pages. Here every
    * twentieth document is hot, so the corpus size hardly varies with the
    * seed.
    */
  final case class Shape(nDocs: Int, maxSpans: Int, imageShare: Double, sentencesPerPage: Int,
                         textSentences: Int, hotFactor: Int)

  def extraction(seed: Long, shape: Shape): Corpus = {
    val pages = mutable.ArrayBuffer.empty[Page]
    val seenText = mutable.HashSet.empty[String]
    var hotPages = 0
    var hotDocs = 0
    val docs = (0 until shape.nDocs).map { i =>
      val r = docRng(seed, i)
      val hot = i % 20 == 0
      if (hot) hotDocs += 1
      val n = if (hot) shape.maxSpans * shape.hotFactor else 1 + r.int(shape.maxSpans)
      val spans = (0 until n).map { off =>
        if (hot || r.unit() < shape.imageShare) {
          // every page is unique: redraw on a repeated text
          var text = ""
          do text = Seq.fill(shape.sentencesPerPage)(Vocab.Sentences(r.int(Vocab.V))).mkString(" ")
          while (seenText.contains(text) && shape.sentencesPerPage > 1)
          seenText += text
          val page = Page(PageStore.ref(pages.size), text, Vocab.Angles(r.int(Vocab.Angles.length)),
            Vocab.Noises(r.int(Vocab.Noises.length)), r.next())
          pages += page
          if (hot) hotPages += 1
          Span("image", "", page.ref, off)
        } else
          Span("text", Seq.fill(1 + r.int(shape.textSentences))(Vocab.Sentences(r.int(Vocab.V))).mkString(" "), "", off)
      }
      // stored in shuffled array order: the pipeline must restore offsets
      Doc(f"doc-$i%06d", spans.sortBy(sp => mix(seed ^ i.toLong ^ (sp.offset.toLong << 20))))
    }
    val nSpans = docs.map(_.spans.size).sum
    val angleMix = Vocab.Angles.map(a => s"$a:${pages.count(_.angle == a)}").mkString(",")
    val noiseMix = Vocab.Noises.map(n => s"$n:${pages.count(_.noise == n)}").mkString(",")
    val props = Seq(
      "docs" -> shape.nDocs.toString,
      "spans" -> nSpans.toString,
      "image_span_share" -> f"${pages.size.toDouble / nSpans}%.4f",
      "pages" -> pages.size.toString,
      "pages_per_doc_mean" -> f"${pages.size.toDouble / shape.nDocs}%.3f",
      "pages_per_doc_max" -> docs.map(_.spans.count(_.kind == "image")).max.toString,
      "hot_docs" -> hotDocs.toString,
      "hot_docs_page_share" -> f"${if (pages.isEmpty) 0.0 else hotPages.toDouble / pages.size}%.4f",
      "sentences_per_page" -> shape.sentencesPerPage.toString,
      "angle_mix_mdeg" -> angleMix,
      "noise_mix_ppm" -> noiseMix)
    Corpus(docs, pages.toIndexedSeq, props)
  }

  // ---- curate ------------------------------------------------------------

  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String,
                            value: java.lang.Double, props: String)

  final case class CurateShape(nDocs: Int, nEvents: Int, exactDupShare: Double, nearDupShare: Double)

  /** A fixed pseudo-word vocabulary (two to four consonant-vowel
    * syllables), drawn with a mild power-law skew. It is large enough
    * that unrelated documents share few words, so near duplicates are
    * only the planted ones.
    */
  private val Words: IndexedSeq[String] = {
    val cs = "bdfghklmnprstvz"; val vs = "aeiou"
    val r = new Rng(20261017L)
    (0 until 6000).map(_ => (0 until 2 + r.int(3)).map(_ => s"${cs(r.int(cs.length))}${vs(r.int(vs.length))}").mkString)
      .distinct.take(4000)
  }
  private def word(r: Rng): String = Words((math.pow(r.unit(), 1.2) * Words.size).toInt)

  private val Langs = IndexedSeq("en", "en", "en", "de", "fr", "es", "zh")
  private val EventTypes = IndexedSeq("view", "click", "purchase", "signup", "error")
  /** Near duplicates copy a document at most this many ids back, so the
    * id-windowed pair miners (idWindow = 25) can see them.
    */
  val NearDupReach = 20

  /** Documents plus events. An exact duplicate repeats an earlier
    * original; a near duplicate edits about one word in forty of an
    * original at most `NearDupReach` ids back. Copies keep their
    * source's language and site, as a re-crawled page would, and are
    * never copied again, so every duplicate cluster is a star and the
    * components' round count does not wander with the seed.
    */
  def curate(seed: Long, shape: CurateShape): (IndexedSeq[DocRow], IndexedSeq[EventRow], Seq[(String, String)]) = {
    val rows = mutable.ArrayBuffer.empty[DocRow]
    val originals = mutable.ArrayBuffer.empty[Int]
    var exact = 0
    var near = 0
    var nearJaccardSum = 0.0
    (0 until shape.nDocs).foreach { i =>
      val r = docRng(seed, i)
      val u = r.unit()
      val recent = originals.reverseIterator.takeWhile(_ >= i - NearDupReach).toIndexedSeq
      val (text, lang, source) =
        if (originals.nonEmpty && u < shape.exactDupShare) {
          exact += 1
          val src = rows(originals(r.int(originals.size)))
          (src.text, src.lang, src.source)
        } else if (recent.nonEmpty && u < shape.exactDupShare + shape.nearDupShare) {
          near += 1
          val src = rows(recent(r.int(recent.size)))
          val words = src.text.split(' ')
          val edited = words.map(w => if (r.int(40) == 0) word(r) else w)
          val a = words.toSet; val b = edited.toSet
          nearJaccardSum += (a intersect b).size.toDouble / (a union b).size
          (edited.mkString(" "), src.lang, src.source)
        } else {
          originals += i
          (Seq.fill(30 + r.int(60))(word(r)).mkString(" "), Langs(r.int(Langs.size)), s"src${r.int(20)}")
        }
      rows += DocRow(i.toLong, text, lang, source, text.length.toLong)
    }
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val er = new Rng(mix(seed * 31 + 7))
    val events = (0 until shape.nEvents).map { i =>
      val v: java.lang.Double = if (er.int(50) == 0) null else java.lang.Double.valueOf(math.round(er.unit() * 25000) / 100.0)
      EventRow(i.toLong, new java.sql.Timestamp(base + i * 5000L + er.int(5000)), er.int(2000).toLong,
        EventTypes(er.int(EventTypes.size)), v, s"""{"k": ${er.int(100)}}""")
    }
    val props = Seq(
      "docs" -> shape.nDocs.toString,
      "events" -> shape.nEvents.toString,
      "exact_dup_share" -> f"${exact.toDouble / shape.nDocs}%.4f",
      "near_dup_share" -> f"${near.toDouble / shape.nDocs}%.4f",
      "near_dup_mean_jaccard" -> f"${if (near == 0) 0.0 else nearJaccardSum / near}%.4f",
      "near_dup_reach_ids" -> NearDupReach.toString,
      "mean_words_per_doc" -> f"${rows.map(_.text.count(_ == ' ') + 1).sum.toDouble / shape.nDocs}%.1f")
    (rows.toIndexedSeq, events, props)
  }

  // ---- digests -----------------------------------------------------------

  /** SHA-256 over a canonical serialisation of the generated records. */
  def digest(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(utf8(p)); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def digestCorpus(c: Corpus): String = digest(
    c.docs.iterator.flatMap(d => Iterator(d.doc_id) ++ d.spans.iterator.map(s => s"${s.kind}|${s.text}|${s.media_ref}|${s.offset}")) ++
      c.pages.iterator.map(p => s"${p.ref}|${p.text}|${p.angle}|${p.noise}|${p.seed}"))

  def digestCurate(docs: Seq[DocRow], events: Seq[EventRow]): String = digest(
    docs.iterator.map(d => s"${d.doc_id}|${d.text}|${d.lang}|${d.source}") ++
      events.iterator.map(e => s"${e.event_id}|${e.ts.getTime}|${e.user_id}|${e.event_type}|${e.value}|${e.props}"))
}
