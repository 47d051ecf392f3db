package graft.image

/** Deterministic raster ops for the multimodal column path: decode /
  * resize / frame-sample over opaque binary payloads. The "decode
  * heavy media" step that would use native codecs in production is
  * stubbed by the deterministic PGM path (see MediaStore); the Spark
  * plumbing — binary payloads, per-task decode, bounded batch shapes —
  * is real and tested.
  */
object ImageOps {

  /** Nearest-neighbor resize (deterministic, codec-free). */
  def resize(img: GrayImage, w: Int, h: Int): GrayImage = {
    require(w > 0 && h > 0, s"bad target $w x $h")
    val out = GrayImage.filled(w, h, 0)
    var y = 0
    while (y < h) {
      val sy = (y.toLong * img.height / h).toInt
      var x = 0
      while (x < w) {
        val sx = (x.toLong * img.width / w).toInt
        out.set(x, y, img(sx, sy))
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Multi-frame payloads ("video"): a concatenation of PGM frames.
  * `synthv://v1/<seed>/<frames>/<b64 text>` renders `frames` variants
  * of the same text (per-frame seed offset) — the deterministic stand-
  * in for video decode. frameSample picks every `stride`-th frame,
  * the standard cost-bounding step before per-frame inference.
  */
object FrameCodec {
  val Scheme = "synthv://v1/"

  def ref(text: String, frames: Int, seed: Long): String = {
    val b64 = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$Scheme$seed/$frames/$b64"
  }

  def fetch(mediaRef: String): Array[Byte] = {
    require(mediaRef.startsWith(Scheme), s"unsupported video ref: $mediaRef")
    val parts = mediaRef.substring(Scheme.length).split("/", 3)
    val seed = parts(0).toLong
    val frames = parts(1).toInt
    val text = new String(java.util.Base64.getUrlDecoder.decode(parts(2)),
      java.nio.charset.StandardCharsets.UTF_8)
    val bufs = (0 until frames).map { f =>
      SynthRenderer.renderPgm(text, 0, 2000, seed + f)
    }
    val out = new Array[Byte](bufs.map(_.length).sum)
    var off = 0
    bufs.foreach { b => System.arraycopy(b, 0, out, off, b.length); off += b.length }
    out
  }

  /** Split a concatenated-PGM payload into frames. */
  def split(bytes: Array[Byte]): Seq[GrayImage] = {
    val frames = Seq.newBuilder[GrayImage]
    var off = 0
    while (off < bytes.length) {
      // zero-copy: each frame is a view into the shared payload
      val img = PgmCodec.decode(bytes, off)
      frames += img
      off = img.offset + img.size
    }
    frames.result()
  }

  def frameSample(frames: Seq[GrayImage], stride: Int): Seq[GrayImage] =
    frames.zipWithIndex.collect { case (f, i) if i % stride == 0 => f }
}
