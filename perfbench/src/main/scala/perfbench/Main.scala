package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

import scala.collection.mutable

/** Benchmark JVM: set-up, timed passes and output checks of one
  * workload, launched by `run.py`. Prints one `PERFBENCH {json}` line
  * that carries every metric by name; `run.py` adds the DuckDB oracle
  * checks of `curate` and prints the final result line.
  *
  *   perfbench.Main --workload <scanned_pages|curate|selftest>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, cores: Int)

  /** Reported metrics plus the bookkeeping the result line needs. */
  final case class Outcome(
      metrics: Seq[(String, Double)],
      attempted: Long,
      failed: Long,
      props: Seq[(String, String)],
      /** (query, pass, output dir) of every curate result still to be checked */
      checks: Seq[(String, Int, String)] = Nil,
      dataDir: String = "")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("work"), kv("cores").toInt)
    val t0 = System.nanoTime()
    val spark = session(a)
    val startS = (System.nanoTime() - t0) / 1e9
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(a.trace)
    val ctx = Ctx(spark, probe, tracer, a, startS)
    val out = try a.workload match {
      case "scanned_pages" => Workloads.scannedPages(ctx)
      case "curate" => Workloads.curate(ctx)
      case "selftest" => SelfTest.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    } finally {
      if (a.trace) tracer.write(java.nio.file.Paths.get(a.work, "trace.jsonl"))
    }
    spark.stop()
    if (out.checks.nonEmpty) java.nio.file.Files.write(java.nio.file.Paths.get(a.work, "oracle_sql.json"),
      Json.obj(Workloads.CurateQueries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))).getBytes("UTF-8"))
    out.props.foreach { case (k, v) => println(s"input $k = $v") }
    val line = Json.obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "data_dir" -> Json.str(out.dataDir),
      "metrics" -> Json.obj(out.metrics.map { case (k, v) => k -> Json.num(v) }),
      "checks" -> out.checks.map { case (q, p, d) =>
        Json.obj(Seq("query" -> Json.str(q), "pass" -> p.toString, "dir" -> Json.str(d))) }.mkString("[", ",", "]")))
    println(s"PERFBENCH $line")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The status store keeps every job, stage, task and SQL execution
      // for the (disabled) UI; a curate pass makes hundreds of each, and
      // the retained history would grow the heap, and the GC time, pass
      // after pass. Nothing here reads it.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Ctx(spark: SparkSession, probe: Probe, tracer: Tracer, args: Args, sessionStartS: Double) {
    def drain(): Counters = { ColumnBridge.waitForListeners(spark); probe.take() }
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed: collects the garbage of earlier passes, so Spark's context
    * cleaner frees their shuffles, broadcasts and checkpoint blocks now
    * rather than at a random point of the next timed region.
    */
  def quiesce(): Unit = { System.gc(); Thread.sleep(QuiesceMs) }
  val QuiesceMs = 100
  val MinPasses = 3

  /** Runs passes until `budget` seconds of pass time are measured, and
    * at least `MinPasses`, so the reported median always has samples on
    * both sides.
    */
  def timedPasses(budget: Double)(pass: Int => Double): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    while (times.size < MinPasses || times.sum < budget) { quiesce(); times += pass(times.size) }
    println(s"pass_s samples: ${times.map(t => f"$t%.3f").mkString(" ")}")
    times.toSeq
  }
}

object Workloads {
  import Main._

  val ScannedShape: Inputs.Shape = Inputs.Shape(nDocs = 300, maxSpans = 6, imageShare = 0.9,
    sentencesPerPage = 10, textSentences = 1, hotFactor = 4)
  val CurateShape: Inputs.CurateShape = Inputs.CurateShape(nDocs = 800, nEvents = 10000,
    exactDupShare = 0.05, nearDupShare = 0.05)
  /** Warm-up passes before timing. A run keeps speeding up over its first
    * passes while the JIT compiles its code paths; on curate the first timed
    * pass is still a little slow, and the median of the timed passes skips it.
    */
  val ScannedWarmPasses = 3
  val CurateWarmPasses = 2
  /** Set-up's generation step is repeated this often; its median counts. */
  val SetupReps = 3

  val CurateQueries: Seq[String] = Seq("st_ingest_indexed", "st_ingest", "tp_full_curation", "dd_components",
    "ex_domain_rank", "ex_boilerplate_lines", "tp_winsorize")

  /** Generation, page rendering and parquet writes, `SetupReps` times into
    * fresh directories; returns the first one's product and the times.
    */
  private def prepare[A](ctx: Ctx, name: String)(make: String => A): (A, Seq[Double]) = {
    val runs = (0 until SetupReps).map(i => seconds(make(s"${ctx.args.work}/$name-$i")))
    (1 until SetupReps).foreach(i => Dirs.delete(s"${ctx.args.work}/$name-$i"))
    (runs.head._1, runs.map(_._2))
  }

  private def setup(ctx: Ctx, genS: Seq[Double], warmS: Double): Double = {
    val reps = genS.map(t => f"$t%.3f").mkString(" ")
    println(f"setup: session ${ctx.sessionStartS}%.3f s + inputs ${median(genS)}%.3f s (median of $reps) + warm-up $warmS%.3f s")
    ctx.sessionStartS + median(genS) + warmS
  }

  private def pipelineLayer(c: Counters, passS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "pipeline.jobs" -> c.jobs.toDouble,
    "pipeline.stages" -> c.stages.toDouble,
    "pipeline.tasks" -> c.tasks.toDouble,
    "pipeline.busy_s" -> c.runMs / 1e3,
    "pipeline.cpu_s" -> c.cpuNs / 1e9,
    "pipeline.gc_s" -> c.gcMs / 1e3,
    "pipeline.wait_s" -> (c.schedDelayMs + c.fetchWaitMs) / 1e3,
    "pipeline.core_util" -> (if (passS <= 0) 0.0 else c.runMs / 1e3 / (passS * cores)),
    "pipeline.task_skew" -> c.taskSkew,
    "pipeline.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "pipeline.shuffle_read_bytes" -> c.shuffleRead.toDouble)

  /** Medians over passes of each pipeline counter. */
  private def medianLayer(perPass: Seq[Seq[(String, Double)]]): Seq[(String, Double)] =
    if (perPass.isEmpty) Nil
    else perPass.head.map(_._1).map(k => k -> median(perPass.map(_.toMap.apply(k))))

  /** Traced runs trace every second pass, starting with the second, so a
    * steady warm-up drift falls on both sides even with three passes;
    * untraced runs trace nothing.
    */
  private def traced(ctx: Ctx, pass: Int): Boolean = ctx.args.trace && pass % 2 == 1

  private def overhead(ctx: Ctx, times: Seq[Double]): Double = {
    val (t, u) = times.zipWithIndex.partition { case (_, i) => traced(ctx, i) }
    if (t.isEmpty || u.isEmpty) 0.0 else median(t.map(_._1)) - median(u.map(_._1))
  }

  // ---- scanned_pages -----------------------------------------------------

  def scannedPages(ctx: Ctx): Outcome = {
    val a = ctx.args
    val corpus = Inputs.extraction(a.seed, ScannedShape)
    val (ex, genS) = prepare(ctx, "scanned") { dir =>
      val e = new Extraction(ctx.spark, corpus, dir, a.cores); e.write(); e
    }
    val store = new PageStore(ex.pagesDir)
    val (_, warmS) = seconds((0 until ScannedWarmPasses).foreach(_ => ex.extractPass(store)))
    ctx.drain()
    val tallies = mutable.ArrayBuffer.empty[Tally]
    val layers = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var peak = 0L
    val times = timedPasses(a.seconds) { k =>
      ctx.tracer.newTrace(traced(ctx, k))
      val (t, s) = seconds(ctx.tracer.span("ExtractionJob.extract")(ex.extractPass(store)))
      val c = ctx.drain()
      tallies += t
      peak = math.max(peak, c.peakTaskMem)
      layers += pipelineLayer(c, s, a.cores)
      s
    }
    ctx.tracer.newTrace(a.trace)
    val passS = median(times)
    val tally = tallies.reduce(_ + _)
    val replay = if (a.trace) LayerReplay.run(ctx.spark, corpus.pages, store, 2 * a.cores) else Nil
    ctx.tracer.addForeign(replay.flatMap(_.spans))
    Outcome(
      metrics = Seq(
        "setup_s" -> setup(ctx, genS, warmS),
        "pass_s" -> passS,
        "passes" -> times.size.toDouble,
        "docs_per_s" -> corpus.docs.size / passS,
        "correct_rate" -> tally.correctRate,
        "error_rate" -> tally.errorRate,
        "peak_task_mem_mb" -> peak / 1e6,
        "trace.overhead_s" -> overhead(ctx, times)) ++
        medianLayer(layers.toSeq) ++ LayerReplay.metrics(replay),
      attempted = tally.checked,
      failed = tally.failed,
      props = corpus.props :+ ("input_sha256" -> Inputs.digestCorpus(corpus)))
  }

  // ---- curate ------------------------------------------------------------

  /** The `documents` and `events` tables, as the queries read them from a directory. */
  def writeCurate(spark: SparkSession, dir: String, docs: Seq[Inputs.DocRow], events: Seq[Inputs.EventRow]): Unit = {
    import spark.implicits._
    val cores = spark.sparkContext.defaultParallelism
    docs.toDS().coalesce(cores).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    events.toDS().coalesce(cores).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def curate(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val (docs, events, props) = Inputs.curate(a.seed, CurateShape)
    val (dataDir, genS) = prepare(ctx, "curate") { dir => writeCurate(spark, dir, docs, events); dir }
    val outRoot = s"${a.work}/curate-out"
    final case class QueryRun(name: String, s: Double, c: Counters, threw: Boolean)

    def pass(dir: String, label: String, timed: Boolean): Seq[QueryRun] = CurateQueries.map { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      if (timed) quiesce()
      ctx.drain()
      val (threw, s) = seconds {
        try {
          ctx.tracer.span(s"query.$q") {
            SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$outRoot/$label/$q")
          }
          false
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] query $q threw: $e")
            true
        }
      }
      val c = ctx.drain()
      ColumnBridge.reclaimNewRdds(spark, before)
      QueryRun(q, s, c, threw)
    }

    val (_, warmS) = seconds((0 until CurateWarmPasses).foreach { i =>
      pass(dataDir, s"warm-$i", timed = false)
      Dirs.delete(s"$outRoot/warm-$i")
    })
    val runs = mutable.ArrayBuffer.empty[Seq[QueryRun]]
    val times = timedPasses(a.seconds) { k =>
      ctx.tracer.newTrace(traced(ctx, k))
      val r = pass(dataDir, s"pass-$k", timed = true)
      runs += r
      r.map(_.s).sum
    }
    ctx.tracer.newTrace(a.trace)
    val passS = median(times)
    val all = runs.flatten
    val perQuery = CurateQueries.flatMap { q =>
      val rs = all.filter(_.name == q).toSeq
      def med(f: QueryRun => Double) = median(rs.map(f))
      Seq(
        s"query.$q.s" -> med(_.s),
        s"query.$q.busy_s" -> med(_.c.runMs / 1e3),
        s"query.$q.jobs" -> med(_.c.jobs.toDouble),
        s"query.$q.stages" -> med(_.c.stages.toDouble),
        s"query.$q.shuffle_bytes" -> med(_.c.shuffleWrite.toDouble),
        s"query.$q.spill_bytes" -> med(_.c.spill.toDouble),
        s"query.$q.peak_task_mem_mb" -> med(_.c.peakTaskMem / 1e6))
    }
    val failed = all.count(_.threw).toLong
    Outcome(
      metrics = Seq(
        "setup_s" -> setup(ctx, genS, warmS),
        "pass_s" -> passS,
        "passes" -> times.size.toDouble,
        "docs_per_s" -> docs.size / passS,
        "error_rate" -> failed.toDouble / all.size,
        "peak_task_mem_mb" -> all.map(_.c.peakTaskMem).max / 1e6,
        "trace.overhead_s" -> overhead(ctx, times)) ++ perQuery,
      attempted = all.size.toLong,
      failed = failed,
      props = props :+ ("input_sha256" -> Inputs.digestCurate(docs, events)),
      checks = runs.zipWithIndex.flatMap { case (r, k) =>
        r.filterNot(_.threw).map(q => (q.name, k, s"$outRoot/pass-$k/${q.name}")) }.toSeq,
      dataDir = dataDir)
  }
}
