package perfbench

import graft.image.{MediaStore, PngCodec, SynthRenderer}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** The benchmark's page store: each `bench://page/<n>` ref is a PNG file
  * `<dir>/<n>.png` rendered once during set-up, so the timed passes only
  * read and decode pages, as the reference reads its rendered pages.
  */
class PageStore(dir: String) extends MediaStore {
  override def fetch(mediaRef: String): Array[Byte] = Files.readAllBytes(PageStore.path(dir, mediaRef))
}

/** Self-test store: serves a blank page for every ref whose page number
  * is a multiple of `every`, the way a corrupt or empty scan would look.
  */
final class BlankingPageStore(dir: String, every: Int) extends PageStore(dir) {
  override def fetch(mediaRef: String): Array[Byte] =
    if (BlankingPageStore.blanked(mediaRef, every)) BlankingPageStore.blankPng
    else super.fetch(mediaRef)
}

object BlankingPageStore {
  def blanked(mediaRef: String, every: Int): Boolean = PageStore.number(mediaRef) % every == 0
  lazy val blankPng: Array[Byte] = PngCodec.encode(graft.image.GrayImage.filled(64, 32, 255))
}

object PageStore {
  private val Prefix = "bench://page/"

  def ref(number: Int): String = f"$Prefix$number%06d"

  def number(mediaRef: String): Int = {
    require(mediaRef.startsWith(Prefix), s"unsupported media_ref: $mediaRef")
    mediaRef.substring(Prefix.length).toInt
  }

  def path(dir: String, mediaRef: String): java.nio.file.Path = Paths.get(dir, f"${number(mediaRef)}%06d.png")

  /** Renders every page to `<dir>/<n>.png` on the session's executors. */
  def render(spark: SparkSession, pages: Seq[Inputs.Page], dir: String, slices: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val jobs = pages.map(p => (p.ref, p.text, p.angle, p.noise, p.seed))
    spark.sparkContext.parallelize(jobs, slices).foreach { case (ref, text, angle, noise, seed) =>
      val png = PngCodec.encode(SynthRenderer.render(text, angle, noise, seed))
      Files.write(path(dir, ref), png)
    }
  }
}
