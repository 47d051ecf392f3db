package graft.pipeline

import graft.model.CheckpointRow

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Durable partition-granular checkpoint/lineage store (SURVEY.md §2.7
  * J2, FIXTURES.md §3).
  *
  * One small JSON file per completed logical partition, written with
  * write-temp-then-atomic-rename so a mark either fully exists or
  * doesn't; task retries overwrite idempotently (same key, same
  * content). Reading dedups by (run_id, partition_id).
  *
  * Filesystem layout (works on any shared POSIX/NFS mount in the
  * sandbox; the production seam is an Iceberg `checkpoint` table with
  * the same row shape — swap `markCompleted`/`completedPids` only):
  *
  *   <dir>/run_id=<run>/pid=<n>.json
  *   <dir>/run_id=<run>/config.json       -- partitioning fingerprint
  */
final class CheckpointStore(dir: String) extends Serializable {

  private def runDir(runId: String): Path = Paths.get(dir, s"run_id=${CheckpointStore.validId(runId)}")

  def markCompleted(row: CheckpointRow): Unit = {
    val d = runDir(row.run_id)
    Files.createDirectories(d)
    val json =
      s"""{"run_id":"${row.run_id}","partition_id":${row.partition_id},"doc_count":${row.doc_count},""" +
        s""""lines_segmented":${row.lines_segmented},"glyphs_classified":${row.glyphs_classified},""" +
        s""""ocr_spans":${row.ocr_spans},"direct_spans":${row.direct_spans},"failed_spans":${row.failed_spans},""" +
        s""""completed_at":${row.completed_at}}"""
    // UUID, not thread id: duplicate attempts of the same partition on
    // different executors can share a thread id, and a colliding tmp
    // path would let one attempt publish a torn write of the other
    val tmp = d.resolve(s".pid=${row.partition_id}.json.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(s"pid=${row.partition_id}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Persist the partitioning fingerprint of a run; error on mismatch
    * with a previous run of the same runId (a resume with different
    * numPartitions/salt/pid function would silently drop every doc
    * whose NEW pid happens to collide with an already-completed pid).
    * `pidFunction` must not contain a double quote.
    */
  def verifyOrWriteConfig(runId: String, numPartitions: Int, salt: Long, pidFunction: String): Unit = {
    val d = runDir(runId)
    Files.createDirectories(d)
    val f = d.resolve("config.json")
    val json = s"""{"num_partitions":$numPartitions,"salt":$salt,"pid_function":"$pidFunction"}"""
    if (Files.exists(f)) {
      val prev = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      require(prev == json,
        s"resume config mismatch for run '$runId': checkpoint has $prev, job has $json — " +
          "resuming with a different partitioning would silently skip re-mapped documents")
    } else {
      val tmp = d.resolve(s".config.json.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def listRun[A](runId: String)(f: Iterator[Path] => A, empty: A): A = {
    val d = runDir(runId)
    if (!Files.isDirectory(d)) return empty
    // Files.list holds an open directory handle; close it or leak an
    // fd per call on a long-lived driver
    val s = Files.list(d)
    try f(s.iterator().asScala) finally s.close()
  }

  def completedPids(runId: String): Set[Int] =
    listRun(runId)(_.map(_.getFileName.toString)
      .collect { case s if s.startsWith("pid=") && s.endsWith(".json") =>
        s.stripPrefix("pid=").stripSuffix(".json").toInt
      }
      .toSet, Set.empty[Int])

  /** All lineage rows of a run (driver-side roll-up A7). */
  def rows(runId: String): Seq[CheckpointRow] =
    listRun(runId)(_.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("pid=") && n.endsWith(".json")
      }
      .map { p =>
        val j = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        def num(k: String): Long =
          s""""$k":(-?\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong).getOrElse(0L)
        def str(k: String): String =
          s""""$k":"([^"]*)"""".r.findFirstMatchIn(j).map(_.group(1)).getOrElse("")
        CheckpointRow(str("run_id"), num("partition_id").toInt, num("doc_count"),
          num("lines_segmented"), num("glyphs_classified"), num("ocr_spans"),
          num("direct_spans"), num("failed_spans"), num("completed_at"))
      }
      .toSeq
      .sortBy(_.partition_id), Nil)
}

object CheckpointStore {
  /** run_id feeds a filesystem path and a JSON literal: restrict it to
    * a safe charset instead of escaping in two syntaxes.
    */
  def validId(runId: String): String = {
    require(runId.nonEmpty && runId.forall(c =>
      c.isLetterOrDigit && c < 128 || c == '-' || c == '_' || c == '.'),
      s"run_id must match [A-Za-z0-9._-]+, got '$runId'")
    runId
  }
}
