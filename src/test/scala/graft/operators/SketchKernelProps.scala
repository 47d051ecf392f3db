package graft.operators

import graft.functions.SketchKernels
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck laws for the pure sketch kernels — no Spark session:
  * the rolling shingle fold equals compose-then-hash on arbitrary
  * Unicode INCLUDING supplementary-plane characters (the code-point
  * convention the DuckDB oracles enumerate), and chunking partitions
  * the token sequence exactly.
  */
object SketchKernelProps extends Properties("graft.operators.kernels") {

  // words over hostile alphabets: Arabic, ASCII, combining marks, and
  // genuine non-BMP code points (emoji + math alphanumerics)
  private val word: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("نظام", "محكمة", "abc", "x", "tok1", "ّ"),
    2 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
    1 -> Gen.oneOf("😀", "𝐀a", "é́", "字🤖"))
  private val words: Gen[List[String]] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word))

  private def arr(ws: Seq[String]): GenericArrayData =
    new GenericArrayData(ws.map(w => UTF8String.fromString(w): Any).toArray)

  private def longs(a: org.apache.spark.sql.catalyst.util.ArrayData): Seq[Long] =
    (0 until a.numElements()).map(a.getLong)

  property("shingleHashes == sorted distinct 62-bit combinedHash of space-joined shingles") =
    Prop.forAll(words, Gen.chooseNum(1, 4)) { (ws, n) =>
      val got = longs(SketchKernels.shingleHashes(arr(ws), n))
      val want =
        if (ws.length < n) Seq.empty
        else ws.sliding(n).map(s =>
          SketchKernels.combinedHash(UTF8String.fromString(s.mkString(" "))))
          .toSeq.distinct.sorted
      got == want
    }

  property("combinedHash packs exactly ((polyHash << 31) + polyHash2), both sub-2^31") =
    Prop.forAll(word) { w =>
      val u = UTF8String.fromString(w)
      val (a, b) = (SketchKernels.polyHash(u), SketchKernels.polyHash2(u))
      0 <= a && a < SketchKernels.PolyM && 0 <= b && b < SketchKernels.PolyM &&
        SketchKernels.combinedHash(u) == (a << 31) + b &&
        (SketchKernels.combinedHash(u) >> 31) == a // minhash can recover the 31-bit face
    }

  property("polyHash/polyHash2 fold code points (surrogate pairs are ONE term)") =
    Prop.forAll(Gen.oneOf(0x1F600, 0x1D400, 0x20000, 0x10FFFF)) { cp =>
      val s = new String(Character.toChars(cp))
      SketchKernels.polyHash(UTF8String.fromString(s)) == cp.toLong % SketchKernels.PolyM &&
        SketchKernels.polyHash2(UTF8String.fromString(s)) == cp.toLong % SketchKernels.PolyM
    }

  property("minhashPolyBucketsFromCombined(shingleHashes(w,1)) == minhashPolyBuckets(distinct words)") =
    Prop.forAll(words.suchThat(_.nonEmpty), Gen.chooseNum(1, 4), Gen.chooseNum(1, 3)) {
      (ws, bands, rpb) =>
        // width-1 shingles ARE the word set: the combined-hash route's
        // recovered 31-bit base must band identically to the historical
        // token-string route (bandedOf bands through the combined route)
        val viaCombined = longs(SketchKernels.minhashPolyBucketsFromCombined(
          SketchKernels.shingleHashes(arr(ws), 1), bands, rpb))
        val viaStrings = longs(SketchKernels.minhashPolyBuckets(
          arr(ws.distinct), bands, rpb))
        viaCombined == viaStrings
    }

  property("sortedLongContainment == |A∩B| / min(|A|,|B|) over the hash SETS") =
    Prop.forAll(words, words) { (wa, wb) =>
      val (a, b) = (SketchKernels.shingleHashes(arr(wa), 1), SketchKernels.shingleHashes(arr(wb), 1))
      val (sa, sb) = (longs(a).toSet, longs(b).toSet)
      val want = if (sa.isEmpty || sb.isEmpty) 0.0
                 else (sa & sb).size.toDouble / math.min(sa.size, sb.size).toDouble
      SketchKernels.sortedLongContainment(a, b) == want
    }

  property("tokenTermFreqs counts token-EXACT matches per term (no substring hits)") =
    Prop.forAll(words, Gen.chooseNum(1, 4)) { (ws, nt) =>
      val terms = (List("a", "abc", "نظام", "😀").take(nt))
      val got = {
        val a = graft.functions.SearchKernels.tokenTermFreqs(
          arr(ws), terms.map(UTF8String.fromString).toArray)
        (0 until a.numElements()).map(i => a.getInt(i))
      }
      got == terms.map(t => ws.count(_ == t))
    }

  property("chunkTokens partitions: concatenation order preserved, bounds respected") =
    Prop.forAll(words.suchThat(_.nonEmpty), Gen.chooseNum(2, 8), Gen.chooseNum(0, 1)) {
      (ws, size, ov) =>
        val chunks = {
          val a = SketchKernels.chunkTokens(arr(ws), size, ov)
          (0 until a.numElements()).map(a.getUTF8String(_).toString)
        }
        val tokenLists = chunks.map(_.split(" ").toList)
        val step = size - ov
        // every chunk except the last is exactly `size` tokens; chunk i
        // starts at i*step; the union covers the sequence in order
        tokenLists.zipWithIndex.forall { case (c, i) =>
          c == ws.slice(i * step, math.min(i * step + size, ws.length)) &&
            (i == tokenLists.length - 1 || c.length == size)
        } && tokenLists.last.nonEmpty &&
          (tokenLists.length == 1 || (tokenLists.length - 2) * step + size < ws.length + step)
    }
}
