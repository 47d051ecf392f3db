package graft.pipeline

import graft.fixtures.DocGen
import graft.model.Doc
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** End-to-end pipeline tests: exact span-sequence equality, order
  * restoration, skew fixture, and partition-granular resume
  * (SURVEY.md §5.2 items 4-5).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("e2e: exact span-sequence equality on mixed fixture, shuffled input order") {
    val docs = DocGen.synthetic(spark, nDocs = 60, seed = 7L)
    val out = ExtractionJob.extract(spark, docs, ExtractionJob.Config(numPartitions = 4))
      .collect().map(d => d.doc_id -> d).toMap
    val expected = docs.collect()
    assert(out.size == 60)
    expected.foreach { in =>
      val got = out(in.doc_id)
      val want = DocGen.expectedSpans(in)
      assert(got.spans == want, s"doc ${in.doc_id}")
      assert(got.error.isEmpty)
      assert(got.metrics.failed_spans == 0)
      assert(got.metrics.ocr_spans == in.spans.count(_.kind == "image"))
      assert(got.metrics.direct_spans == in.spans.count(_.kind == "text"))
      // quality-gate column bounds: every glyph is within MaxNoiseDrops
      // Hamming of its template, so the pooled mean is in
      // [MinValidConf, 1]; noise-free docs recognize perfectly
      if (got.metrics.glyphs_classified > 0) {
        val minValid = (graft.image.SynthFont.GlyphArea - graft.image.SynthFont.MaxNoiseDrops)
          .toDouble / graft.image.SynthFont.GlyphArea
        assert(got.metrics.mean_confidence >= minValid && got.metrics.mean_confidence <= 1.0)
        val allClean = in.spans.filter(_.kind == "image")
          .forall(sp => graft.image.SynthMediaStore.parse(sp.media_ref).noisePpm == 0)
        if (allClean) assert(got.metrics.mean_confidence == 1.0)
      } else {
        assert(got.metrics.mean_confidence == 0.0)
      }
    }
  }

  test("e2e: skewed fixture (image-heavy hot docs) stays exact") {
    val docs = DocGen.synthetic(spark, nDocs = 40, seed = 13L, skewed = true)
    val out = ExtractionJob.extract(spark, docs, ExtractionJob.Config(numPartitions = 4))
      .collect().map(d => d.doc_id -> d).toMap
    val ins = docs.collect()
    assert(ins.exists(_.spans.size > 12), "fixture should contain hot docs")
    ins.foreach { in =>
      assert(out(in.doc_id).spans == DocGen.expectedSpans(in), s"doc ${in.doc_id}")
    }
  }

  test("media failure: span swallowed as failed, doc continues (reference semantics)") {
    import spark.implicits._
    val bad = Doc("doc-bad", Seq(
      graft.model.Span("text", "سليم", "", 0),
      graft.model.Span("image", "", "synth://v1/not-a-number/0/0/xx", 1),
      graft.model.Span("image", "", graft.image.SynthMediaStore.ref("نظام", 0, 0, 1L), 2)))
    val out = ExtractionJob.extract(spark, spark.createDataset(Seq(bad))).collect().head
    assert(out.error.isEmpty)
    assert(out.metrics.failed_spans == 1)
    assert(out.spans(0).text == "سليم")
    assert(out.spans(1).text == "")
    assert(out.spans(2).text == "نظام")
  }

  test("resume: pre-completed partitions are skipped, final table identical, no duplicate work") {
    val docs = DocGen.synthetic(spark, nDocs = 50, seed = 21L)
    val cfg = ExtractionJob.Config(numPartitions = 8, runId = "r1")

    // ground truth: one uninterrupted run
    val fullDir = Files.createTempDirectory("graft-full").toString
    val fullSummary = ExtractionJob.runResumable(spark, docs, fullDir, cfg)
    assert(fullSummary.docs == 50)
    val fullOut = ExtractionJob.readOutput(spark, fullDir, "r1").collect()
      .map(d => d.doc_id -> d.spans).toMap

    // simulate a run killed after some partitions committed: copy the
    // data+marks of a subset of pids into a fresh output dir (data
    // nested per run_id, mirroring the checkpoint layout)
    val resumeDir = Files.createTempDirectory("graft-resume").toString
    Files.createDirectories(Paths.get(ExtractionJob.dataDir(resumeDir, "r1")))
    val store = new CheckpointStore(s"$fullDir/checkpoint")
    val preDone = store.rows("r1").take(3)
    val resumeStore = new CheckpointStore(s"$resumeDir/checkpoint")
    preDone.foreach { row =>
      Files.copy(
        Paths.get(ExtractionJob.dataDir(fullDir, "r1"), s"pid=${row.partition_id}.jsonl"),
        Paths.get(ExtractionJob.dataDir(resumeDir, "r1"), s"pid=${row.partition_id}.jsonl"))
      resumeStore.markCompleted(row)
    }

    val resumeSummary = ExtractionJob.runResumable(spark, docs, resumeDir, cfg)
    assert(resumeSummary.skippedPartitions == 3, s"skipped=${resumeSummary.skippedPartitions}")
    assert(resumeSummary.docs == 50) // lineage covers all docs exactly once
    val resumedOut = ExtractionJob.readOutput(spark, resumeDir, "r1").collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(resumedOut == fullOut)

    // idempotent re-run: everything skipped, nothing reprocessed
    val again = ExtractionJob.runResumable(spark, docs, resumeDir, cfg)
    assert(again.processedPartitions == 0)
    assert(ExtractionJob.readOutput(spark, resumeDir, "r1").count() == 50)

    // a SECOND run id in the same outDir must not clobber r1's data
    val r2 = ExtractionJob.runResumable(spark, docs, resumeDir, cfg.copy(runId = "r2"))
    assert(r2.docs == 50)
    assert(ExtractionJob.readOutput(spark, resumeDir, "r1").collect()
      .map(d => d.doc_id -> d.spans).toMap == fullOut,
      "run r2 clobbered r1's committed data")
  }

  test("kill-resume: a mid-run failure commits only finished partitions; rerun completes identically") {
    val docs = DocGen.synthetic(spark, nDocs = 60, seed = 31L)
    val cfg = ExtractionJob.Config(numPartitions = 8, runId = "kill1")
    val dir = Files.createTempDirectory("graft-kill").toString

    // Per-span AND per-doc failures are swallowed by design (reference
    // skip-and-continue semantics), so a genuine task kill is simulated
    // with a NON-NonFatal throwable (InterruptedException) from the
    // media store on ~6% of docs: the affected tasks die, the job
    // aborts, but partitions that finished first keep their rename-
    // committed data + marks.
    val poisoned = docs.collect().filter(d => d.doc_id.hashCode % 17 == 0)
      .flatMap(_.spans.filter(_.kind == "image").map(_.media_ref)).toSet
    assert(poisoned.nonEmpty)
    val fatal = new graft.image.MediaStore {
      def fetch(ref: String): Array[Byte] = {
        if (poisoned.contains(ref)) throw new InterruptedException("injected task kill")
        graft.image.SynthMediaStore.fetch(ref)
      }
    }
    val killed = intercept[Exception] {
      ExtractionJob.runResumable(spark, docs, dir, cfg.copy(mediaStore = fatal))
    }
    assert(killed != null)
    val store = new CheckpointStore(s"$dir/checkpoint")
    val committed = store.completedPids("kill1")
    assert(committed.size < 8, "not every partition may commit under the outage")

    // outage over: rerun with the healthy store
    val summary = ExtractionJob.runResumable(spark, docs, dir, cfg)
    assert(summary.skippedPartitions == committed.size)
    assert(summary.docs == 60)
    val out = ExtractionJob.readOutput(spark, dir, "kill1").collect().map(d => d.doc_id -> d.spans).toMap
    assert(out.size == 60)
    docs.collect().foreach { in =>
      assert(out(in.doc_id) == DocGen.expectedSpans(in), s"doc ${in.doc_id}")
    }
  }

  test("resume refuses a different partitioning (completed pids would lie)") {
    val docs = DocGen.synthetic(spark, nDocs = 20, seed = 41L)
    val dir = Files.createTempDirectory("graft-cfg").toString
    ExtractionJob.runResumable(spark, docs, dir, ExtractionJob.Config(numPartitions = 8, runId = "cfg1"))
    val e = intercept[IllegalArgumentException] {
      ExtractionJob.runResumable(spark, docs, dir, ExtractionJob.Config(numPartitions = 16, runId = "cfg1"))
    }
    assert(e.getMessage.contains("resume config mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      ExtractionJob.runResumable(spark, docs, dir,
        ExtractionJob.Config(numPartitions = 8, salt = 7L, runId = "cfg1"))
    }
    assert(e2.getMessage.contains("resume config mismatch"))
    // same config still resumes fine
    assert(ExtractionJob.runResumable(spark, docs, dir,
      ExtractionJob.Config(numPartitions = 8, runId = "cfg1")).skippedPartitions > 0)
    // a checkpoint fingerprinted without the pid function was written
    // under another pid function: refused, not silently resumed
    val legacyDir = Files.createTempDirectory("graft-cfg-legacy").toString
    val legacyRun = Paths.get(legacyDir, "checkpoint", "run_id=cfg2")
    Files.createDirectories(legacyRun)
    Files.write(legacyRun.resolve("config.json"), """{"num_partitions":8,"salt":42}""".getBytes("UTF-8"))
    val e3 = intercept[IllegalArgumentException] {
      ExtractionJob.runResumable(spark, docs, legacyDir, ExtractionJob.Config(numPartitions = 8, runId = "cfg2"))
    }
    assert(e3.getMessage.contains("resume config mismatch"))
    // hostile run ids are rejected before touching the filesystem
    intercept[IllegalArgumentException] {
      ExtractionJob.runResumable(spark, docs, dir,
        ExtractionJob.Config(numPartitions = 8, runId = "../escape"))
    }
  }

  test("pid is the Spark partition the row lands in, and no partition is empty") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val docs = DocGen.synthetic(spark, nDocs = 300, seed = 5L)
    for (n <- Seq(4, 8, 16)) {
      val cfg = ExtractionJob.Config(numPartitions = n)
      val placed = ExtractionJob.byKey(docs.withColumn("pid", ExtractionJob.pidCol(cfg)), cfg)
        .select(col("pid"), spark_partition_id().as("spid"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(placed.length == 300)
      val misplaced = placed.count { case (pid, spid) => pid != spid }
      assert(misplaced == 0, s"n=$n: $misplaced rows sit in another partition than their pid")
      val filled = placed.map(_._2).distinct.length
      assert(filled == n, s"n=$n: only $filled of $n partitions get rows")
    }
  }

  test("observe: job-level metrics collected without an extra pass") {
    val docs = DocGen.synthetic(spark, nDocs = 30, seed = 3L)
    val (ds, obs) = ExtractionJob.extractObserved(spark, docs)
    val collected = ds.collect()
    val m = obs.get
    assert(m("docs") == 30L)
    assert(m("ocr_spans") == collected.map(_.metrics.ocr_spans).sum.toLong)
    assert(m("failed_spans") == 0L)
    assert(m("glyphs_classified") == collected.map(_.metrics.glyphs_classified).sum.toLong)
  }

  test("driver-docs generator: pipeline output matches pure-function oracle") {
    val docs = DocGen.fromDriverDocs(spark, "/root/testdata/sf0.001")
    val out = ExtractionJob.extract(spark, docs).collect().map(d => d.doc_id -> d).toMap
    assert(out.size == 500)
    val ins = docs.collect()
    ins.foreach { in =>
      assert(out(in.doc_id).spans == DocGen.expectedSpans(in), s"doc ${in.doc_id}")
    }
    // text span passthrough is byte-identical
    ins.take(5).foreach { in =>
      assert(out(in.doc_id).spans.head.text == in.spans.head.text)
    }
  }
}
