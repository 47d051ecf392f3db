package graft.lake

import java.nio.file.Files

import graft.pipeline.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LakeFormat seam: Iceberg-style partitioned parquet layout must give
  * Catalyst real partition pruning — a partition-filtered read may not
  * scan (or even list) the other partitions' files.
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("partitioned write + filtered read prunes partitions in the physical plan") {
    val base = Files.createTempDirectory("graft-lake").toString
    val lake = new ParquetLake(base)
    val df = (0 until 1000).map(i => (i.toLong, s"doc $i", i % 4)).toDF("doc_id", "text", "shard")
    lake.write(df, "docs", partitionBy = Seq("shard"))

    val read = lake.read(spark, "docs").where(col("shard") === 2)
    assert(read.count() == 250)

    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(shard"), scan.take(800))
    // the shard filter must be partition-pruned, NOT a post-scan data filter
    assert(!scan.contains("PushedFilters: [IsNotNull(shard"), scan.take(800))
  }

  test("bucketed tables join with no Exchange and no Sort (co-located join)") {
    val left = (0 until 2000).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val right = (0 until 2000 by 2).map(i => (i.toLong, i * 10)).toDF("doc_id", "score")
    BucketedLake.write(left, "b_docs", "doc_id", nBuckets = 8)
    BucketedLake.write(right, "b_scores", "doc_id", nBuckets = 8)

    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // one file per bucket (BucketedLake pre-repartitions), so the scan's
    // per-bucket sort order is real; reporting it is opt-in since 3.0
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val joined = BucketedLake.read(spark, "b_docs")
        .join(BucketedLake.read(spark, "b_scores"), "doc_id")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      // bucket-pruned: the write-time shuffle+sort is reused, the join
      // itself is narrow
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(900)}")
      assert(!plan.contains("+- Sort "), s"bucketed+sorted join must not re-sort:\n${plan.take(900)}")
      assert(plan.contains("SelectedBucketsCount"), plan.take(900))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_scores")
    }
  }

  test("z-order write: per-file min/max tight on BOTH dims; single-dim sort leaves dim-2 stats useless") {
    // two independent deterministic dims over [0, 255]
    val rows = (0 until 8192).map { i =>
      (i.toLong, (i % 256).toLong, ((i * 7919) % 256).toLong)
    }
    val df = rows.toDF("id", "a", "b")
    val zDir = Files.createTempDirectory("graft-zorder").toString + "/t"
    val linDir = Files.createTempDirectory("graft-linear").toString + "/t"
    ZOrderLake.write(df, zDir, "a", "b", nFiles = 16)
    // the single-dim baseline: range-partitioned + sorted by `a` only
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(linDir)

    // the quantity file skipping runs on: each file's (min, max) width
    // per dim, exactly what lands in the parquet footer
    def widths(dir: String): Seq[(Double, Double)] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map { f =>
          val s = spark.read.parquet(f.getAbsolutePath)
            .agg(min(col("a")), max(col("a")), min(col("b")), max(col("b"))).head()
          ((s.getLong(1) - s.getLong(0)).toDouble / 255.0,
           (s.getLong(3) - s.getLong(2)).toDouble / 255.0)
        }
    val z = widths(zDir)
    val lin = widths(linDir)
    assert(z.size == 16 && lin.size == 16)
    def avg(xs: Seq[Double]) = xs.sum / xs.size
    // z-order: both dims clustered (16 files = 2 bits per dim -> each
    // file covers ~1/4 of each domain, boundary files a bit more)
    assert(avg(z.map(_._1)) < 0.5, s"z-order dim-a widths ${z.map(_._1)}")
    assert(avg(z.map(_._2)) < 0.5, s"z-order dim-b widths ${z.map(_._2)}")
    // linear: dim a razor-tight, dim b spans ~the whole domain in
    // every file — a filter on b can skip nothing
    assert(avg(lin.map(_._1)) < 0.15, s"linear dim-a widths ${lin.map(_._1)}")
    assert(avg(lin.map(_._2)) > 0.8, s"linear dim-b widths ${lin.map(_._2)}")
  }

  test("round-trip preserves schema and rows") {
    val base = Files.createTempDirectory("graft-lake2").toString
    val lake = new ParquetLake(base)
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    lake.write(df, "t")
    val back = lake.read(spark, "t").orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(back == Seq((1L, "a"), (2L, "b")))
  }

  test("bin packing: deterministic FFD, every bin under target, singletons for oversize-by-themselves") {
    val sizes = Seq(700L, 300L, 300L, 200L, 900L, 100L, 50L)
    val bins = CompactLake.planBins(sizes, target = 1000L)
    // every input exactly once
    assert(bins.flatten.sorted == sizes.indices.toList)
    // no bin exceeds the target
    bins.foreach(b => assert(b.map(sizes).sum <= 1000L, s"overfull bin $b"))
    // deterministic: same input -> same plan
    assert(bins == CompactLake.planBins(sizes, 1000L))
  }

  test("compaction: data identical, small files merged to target-sized bins, big files pass through") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    // 40 tiny files (micro-batch accretion shape)
    spark.range(0, 4000).select(col("id"),
        concat(lit("row-"), col("id")).as("text"))
      .repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
      .as[(Long, String)].collect().toSet
    val fileSize = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).max
    // target ~8 source files per bin
    val (nBefore, nAfter) = CompactLake.compact(spark, dir, fileSize * 8)
    assert(nBefore == 40 && nAfter < 10, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(after == before, "compaction must not change a single row")
    val afterFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(afterFiles.length == nAfter)
    // a file already >= target passes through byte-identical
    val dir2 = Files.createTempDirectory("graft-compact2").toString + "/t"
    spark.range(0, 1000).toDF("id").coalesce(1).write.parquet(dir2)
    val bigBytes = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.length
    val (b2, a2) = CompactLake.compact(spark, dir2, targetBytes = 10L)
    assert(b2 == 1 && a2 == 1)
    val kept = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(kept.length == bigBytes, "oversize file must not be rewritten")
  }

  test("compaction: a stale .compact-old beside a live table is dropped on entry, rows unchanged") {
    val root = Files.createTempDirectory("graft-compact-stale").toString
    val dir = root + "/t"
    spark.range(0, 400).select(col("id"), concat(lit("row-"), col("id")).as("text"))
      .repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    // the full stale copy a crash after both swap renames leaves behind
    spark.range(0, 50).select(col("id"), lit("stale").as("text")).write.parquet(dir + ".compact-old")
    def leftovers = new java.io.File(root).list().filter(_.contains(".compact-")).toSeq.sorted
    // a run that fails before its swap (here: an invalid target) must
    // still have cleared the stale copy on entry
    intercept[IllegalArgumentException](CompactLake.compact(spark, dir, targetBytes = 0L))
    assert(leftovers.isEmpty, s"stale entries survive a failed run: $leftovers")
    CompactLake.compact(spark, dir, targetBytes = 1L << 20)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSet == before,
      "compaction must not change a single row")
    assert(leftovers.isEmpty, s"stale entries survive compaction: $leftovers")
  }
}
