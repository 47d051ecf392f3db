package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table-format seam (SURVEY.md §7.1). The production target is
  * Iceberg (`BASELINE.json`: "Iceberg table of interleaved text+media
  * documents"), but no Iceberg runtime jar exists in this offline
  * sandbox, so all table access goes through this trait:
  *
  *   - `ParquetLake`: partitioned parquet with an Iceberg-style layout
  *     (one directory per table, explicit partition columns) — used by
  *     tests and the bench here;
  *   - `IcebergLake` (config-only, no code changes): the same calls
  *     against a configured catalog — `spark.sql.catalog.lake =
  *     org.apache.iceberg.spark.SparkCatalog` + `df.writeTo(
  *     "lake.<table>").append()` / `spark.read.table("lake.<table>")`.
  *     Swapping it in is a session-config change because nothing else
  *     in the pipeline touches storage directly.
  */
trait LakeFormat extends Serializable {
  def read(spark: SparkSession, table: String): DataFrame
  def write(df: DataFrame, table: String, partitionBy: Seq[String] = Nil,
            mode: SaveMode = SaveMode.Overwrite): Unit
}

final class ParquetLake(baseDir: String) extends LakeFormat {
  private def path(table: String) = s"$baseDir/$table"

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  override def write(df: DataFrame, table: String, partitionBy: Seq[String],
                     mode: SaveMode): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path(table))
  }
}

/** Bucketed catalog tables: the co-located-join path. Two tables
  * bucketed (and sorted) on the same key with the same bucket count
  * join with NO Exchange and NO Sort — the shuffle is paid once at
  * write time and amortized over every subsequent join/aggregation on
  * that key (at 10^12 docs the repeated-join shuffle IS the cost
  * center). Iceberg equivalent: `bucket(N, doc_id)` partition
  * transform + storage-partitioned joins — same config-only swap as
  * the rest of the seam.
  */
object BucketedLake {
  def write(df: DataFrame, table: String, bucketCol: String, nBuckets: Int,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    // repartition on the bucket expression first: ONE file per bucket,
    // which is what lets the scan expose its sort order and the join
    // drop the Sort as well as the Exchange (multiple files per bucket
    // void the sortedness guarantee)
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(mode)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}

/** Z-order clustered writes: the multi-dimensional file-skipping face
  * of the lake (Delta/Iceberg `OPTIMIZE ZORDER BY` equivalent; see
  * [[graft.functions.InterleaveBits]] for why). Files are
  * range-partitioned by the morton code of the two dimension ranks,
  * so every file's parquet min/max footer is tight on BOTH columns —
  * a selective predicate on either one skips most files at 100 TB,
  * where a single-column sort leaves the second dimension's stats
  * spanning the whole domain in every file. Rank scaling uses the
  * dims' min/max (one tiny agg job at write time); production tables
  * refresh the range from table stats instead.
  */
object ZOrderLake {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.graft.ColumnBridge

  /** morton key over two numeric columns, each range-scaled to a
    * 16-bit rank; a zero-span dim degenerates to rank 0 (harmless —
    * the other dim still orders the data)
    */
  def zColumn(df: DataFrame, dimX: String, dimY: String): Column = {
    val r = df.agg(
      min(col(dimX)).cast("double"), max(col(dimX)).cast("double"),
      min(col(dimY)).cast("double"), max(col(dimY)).cast("double")).head()
    def rank(c: String, lo: Double, hi: Double): Column = {
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(greatest(
        floor((col(c).cast("double") - lit(lo)) / lit(span) * 65535.0),
        lit(0.0)), lit(65535.0)).cast("long")
    }
    ColumnBridge.column(graft.functions.InterleaveBits(
      ColumnBridge.expression(rank(dimX, r.getDouble(0), r.getDouble(1))),
      ColumnBridge.expression(rank(dimY, r.getDouble(2), r.getDouble(3)))))
  }

  def write(df: DataFrame, path: String, dimX: String, dimY: String,
            nFiles: Int): Unit =
    df.withColumn("__z", zColumn(df, dimX, dimY))
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
}

/** SMALL-FILE COMPACTION — the lake-maintenance pass (Delta OPTIMIZE /
  * Iceberg rewrite_data_files equivalent on the parquet seam). A
  * streaming/micro-batch writer accretes thousands of KB-sized files;
  * at 100 TB that turns every scan's task planning and footer-read
  * phase into the bottleneck long before row decoding starts.
  *
  * The plan is FIRST-FIT-DECREASING bin packing of file sizes into
  * target-sized bins — deterministic (sizes desc, path asc tie-break),
  * driver-side over the file LISTING only (one metadata pass, no data
  * read; at 10^6 files this is a few MB of listing). Each bin rewrites
  * as one task-parallel read of just its member files coalesced to a
  * single output file; files already at or above the target pass
  * through UNREWRITTEN (rewriting big files would be pure write
  * amplification). The rewrite lands in a fresh directory with the
  * swap at the END — a compaction killed BEFORE the swap leaves the
  * source intact (the ExtractionJob resumability rule applied to
  * maintenance). The swap itself is two renames, not one atomic
  * commit (r06 advice): a crash between them leaves no table dir and
  * the data stranded in `.compact-old` — `compact` recovers that
  * window on entry by renaming `.compact-old` back before starting,
  * so a re-run always sees the full source (the Iceberg-snapshot
  * residual, same note as IngestIndex.compactState). A `.compact-old`
  * beside a live table (crash after both renames) is a stale copy and
  * is deleted on entry.
  */
object CompactLake {
  import org.apache.hadoop.fs.Path

  /** First-fit-decreasing pack of (path, size) into <= target bins;
    * returns bins of member indices. Pure and deterministic.
    */
  def planBins(sizes: Seq[Long], target: Long): Seq[Seq[Int]] = {
    require(target > 0, "target must be positive")
    val order = sizes.zipWithIndex.sortBy { case (sz, i) => (-sz, i) }
    val binSum = scala.collection.mutable.ArrayBuffer[Long]()
    val binMembers = scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Int]]()
    order.foreach { case (sz, i) =>
      binSum.indices.find(b => binSum(b) + sz <= target) match {
        case Some(b) => binSum(b) += sz; binMembers(b) += i
        case None =>
          binSum += sz
          binMembers += scala.collection.mutable.ArrayBuffer(i)
      }
    }
    binMembers.map(_.toSeq).toSeq
  }

  /** Compact `dir` in place: bins under `targetBytes` merge to one
    * file each, larger files copy through untouched. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hadoop)
    // recover-on-entry (r06 advice): a crash between the two swap
    // renames below leaves `dir` missing and the source stranded in
    // `.compact-old` — restore it before listing so the re-run
    // compacts the full source instead of failing on a missing dir.
    // A crash after both renames leaves `dir` complete and a stale
    // full copy in `.compact-old`; with `dir` present that copy is
    // always safe to drop, so it goes now rather than at the next swap
    val oldDir = new Path(dir + ".compact-old")
    if (fs.exists(new Path(dir))) fs.delete(oldDir, true)
    else if (fs.exists(oldDir))
      require(fs.rename(oldDir, new Path(dir)),
        s"crash recovery failed: cannot restore $oldDir to $dir")
    val files = fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val (big, small) = files.partition(_.getLen >= targetBytes)
    val bins = planBins(small.map(_.getLen).toSeq, targetBytes)
    val tmp = new Path(dir + ".compact-tmp")
    fs.delete(tmp, true); fs.mkdirs(tmp)
    bins.zipWithIndex.foreach { case (bin, i) =>
      spark.read.parquet(bin.map(j => small(j).getPath.toString): _*)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(new Path(tmp, s"bin-$i").toString)
    }
    // assemble the final layout: big files + one file per bin, then
    // one atomic directory swap
    val out = new Path(dir + ".compact-out")
    fs.delete(out, true); fs.mkdirs(out)
    big.zipWithIndex.foreach { case (f, i) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
        new Path(out, f"part-big-$i%05d.parquet"), false, hadoop)
    }
    bins.indices.foreach { i =>
      val part = fs.listStatus(new Path(tmp, s"bin-$i"))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      require(part.length == 1, s"bin $i produced ${part.length} files")
      fs.rename(part.head.getPath, new Path(out, f"part-bin-$i%05d.parquet"))
    }
    fs.delete(tmp, true)
    require(fs.rename(new Path(dir), oldDir), s"swap failed for $dir")
    require(fs.rename(out, new Path(dir)), s"swap-in failed for $dir")
    fs.delete(oldDir, true)
    (files.length, big.length + bins.length)
  }
}
