package graft.image

import graft.image.ReferencePng.RasterCopy
import graft.ocr.{GlyphClassifier, OcrEngine}
import graft.pipeline.SparkTestSession
import graft.streaming.{EventsStream, StreamDrain}
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: resize, ink-ratio feature, multi-frame
  * split/sample; P3 line-confidence filter; streaming twin.
  */
class MultimodalSpec extends AnyFunSuite {

  /** Fraction of ink-classified pixels under the Otsu threshold. */
  private def inkRatio(img: GrayImage): Double = {
    val t = graft.ocr.Otsu.threshold(img.histogram)
    img.copyPixels.count(p => (p & 0xff) <= t).toDouble / img.size
  }

  test("resize: halved dims, deterministic, content preserved enough to re-OCR at 1:1") {
    val img = SynthRenderer.render("نظام المحكمه", 0, 0, 3L)
    val half = ImageOps.resize(img, img.width / 2, img.height / 2)
    assert(half.width == img.width / 2 && half.height == img.height / 2)
    val same = ImageOps.resize(img, img.width, img.height)
    assert(same.copyPixels.toSeq == img.copyPixels.toSeq) // identity at 1:1
    assert(inkRatio(img) > 0.01 && inkRatio(img) < 0.5)
  }

  test("frame codec: split recovers all frames; sampling strides correctly") {
    val ref = FrameCodec.ref("حكم قرار", frames = 5, seed = 9L)
    val frames = FrameCodec.split(FrameCodec.fetch(ref))
    assert(frames.size == 5)
    assert(frames.map(f => (f.width, f.height)).distinct.size == 1)
    val sampled = FrameCodec.frameSample(frames, 2)
    assert(sampled.size == 3) // indices 0,2,4
    // sampled frames are still valid OCR inputs
    val engine = new OcrEngine(GlyphClassifier.default)
    assert(engine.recognize(sampled.head).text == "حكم قرار")
  }

  test("p3/p4: line-confidence filter drops corrupted lines, keeps clean ones") {
    val engine = new OcrEngine(GlyphClassifier.default)
    val img = SynthRenderer.render("نظام جديد", 0, 0, 5L)
    // corrupt: flip a block of ink pixels in the band to destroy glyph
    // shapes (pushes confidences below the floor)
    val bin = graft.ocr.Otsu.binarize(img)
    var flipped = 0
    var y = 6
    while (y <= 15 && flipped < 14) {
      var x = 6
      while (x < img.width - 6 && flipped < 14) {
        if (bin(x, y) && (x + y) % 2 == 0) { img.set(x, y, 230); flipped += 1 }
        x += 1
      }
      y += 1
    }
    val unfiltered = engine.recognize(img, 0.0)
    val filtered = engine.recognize(img, 0.9)
    assert(unfiltered.lines.nonEmpty)
    if (unfiltered.lines.forall(_.confidence < 0.9)) {
      assert(filtered.lines.isEmpty && filtered.text == "")
    } else {
      assert(filtered.lines.size <= unfiltered.lines.size)
    }
    // clean image: the floor is a no-op
    val clean = SynthRenderer.render("نظام جديد", 0, 0, 5L)
    assert(engine.recognize(clean, 0.9).text == "نظام جديد")
  }

  test("audio: codec round-trip, closed-form features, corrupt payload rejected") {
    val ref = AudioCodec.ref(seed = 7L, nSamples = 1000, period = 40, amplitude = 1500)
    val bytes = AudioCodec.fetch(ref)
    val samples = AudioCodec.decode(bytes)
    assert(samples.length == 1000)
    assert(samples(0) == 1500 && samples(20) == -1500 && samples(40) == 1500,
      "square wave must flip sign every half period")
    val f = AudioCodec.features(samples)
    assert(f.nSamples == 1000)
    assert(f.rms == 1500.0, s"square-wave rms must be exactly the amplitude, got ${f.rms}")
    assert(f.zeroCrossings == 999 / 20, s"zc ${f.zeroCrossings}")
    // independent recompute of the features on a hand-built signal
    val hand = Array[Short](3, -2, -2, 5, 0, -1)
    val hf = AudioCodec.features(hand)
    assert(hf.zeroCrossings == 3) // 3->-2, -2->5, 0(-ve? no: 0 is non-negative)->-1
    assert(math.abs(hf.rms - math.sqrt((9.0 + 4 + 4 + 25 + 0 + 1) / 6)) < 1e-12)
    // corrupt magic and truncation must fail loudly, not decode garbage
    val bad = bytes.clone(); bad(0) = 'X'
    intercept[IllegalArgumentException](AudioCodec.decode(bad))
    intercept[IllegalArgumentException](AudioCodec.decode(bytes.dropRight(1)))
  }

  test("streaming: windowed agg over events matches the batch twin") {
    val spark = SparkTestSession.spark
    val dir = "/root/testdata/sf0.001"
    val (streamed, _) = StreamDrain.toMemory(
      EventsStream.windowedAgg(StreamDrain.events(spark, dir)), "complete", "events_stream_test")
    val batch = EventsStream.windowedAgg(StreamDrain.batchEvents(spark, dir))
    val got = streamed.collect().map(_.toSeq).toSet
    assert(got.nonEmpty)
    assert(got == batch.collect().map(_.toSeq).toSet)
  }
}
