package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Task-level counters summed by a registered SparkListener. Callers
  * drain the listener bus (`ColumnBridge.waitForListeners`) before
  * `take`, so every event of the measured region is counted in it and
  * none of the next region's.
  */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    schedDelayMs: Long = 0, fetchWaitMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    peakTaskMem: Long = 0,
    /** max over median task run time of the stage with the most run time */
    taskSkew: Double = 0.0)

final class Probe extends SparkListener {
  private var c = Counters()
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
    val sr = m.shuffleReadMetrics
    synchronized {
      c = c.copy(
        tasks = c.tasks + 1,
        runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime,
        gcMs = c.gcMs + m.jvmGCTime,
        schedDelayMs = c.schedDelayMs + sched,
        fetchWaitMs = c.fetchWaitMs + sr.fetchWaitTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + sr.remoteBytesRead + sr.localBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory))
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  /** Counters since the last `take`, then reset. */
  def take(): Counters = synchronized {
    val busiest = stageTaskMs.values.maxByOption(_.sum)
    val skew = busiest.map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med <= 0) sorted.last.toDouble else sorted.last / med
    }.getOrElse(0.0)
    val out = c.copy(taskSkew = skew)
    c = Counters()
    stageTaskMs.clear()
    out
  }
}

/** In-memory span recorder for traced runs: (name, start, end, parent,
  * trace id). Spans are written to a JSON-lines file when the run ends.
  */
final case class SpanRec(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer(val enabled: Boolean) {
  /** Spans are recorded only while `on`; traced runs switch it per pass. */
  var on: Boolean = enabled
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  private var trace = 0L

  /** Starts the next trace id, recording it or not. */
  def newTrace(record: Boolean): Unit = { trace += 1; on = enabled && record }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += SpanRec(id, parent, trace, name, t0, System.nanoTime())
      }
    }

  /** Adds spans recorded elsewhere (the executors' layer spans) under a fresh id range. */
  def addForeign(recs: Seq[SpanRec]): Unit = {
    val base = nextId
    recs.foreach(r => spans += r.copy(id = base + r.id, parent = if (r.parent == 0) 0 else base + r.parent,
      trace = 1000000L + r.trace))
    nextId = base + recs.map(_.id).maxOption.getOrElse(0L) + 1
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.iterator.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + graft.pipeline.JsonIo.esc(s) + "\""
  def num(d: Double): String = { require(!d.isNaN && !d.isInfinite, s"metric value $d"); d.toString }
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
