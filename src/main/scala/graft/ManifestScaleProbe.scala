package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.ops.Snapshots

/** Round-18 probe for the MANIFEST-SCALE read path: how does the
  * snapshot read's logical plan grow with the number of delta dirs?
  * Before round 18 [[Snapshots.read]] built one DataFrame per data dir
  * and folded with unionByName — an O(dirs) plan whose ANALYSIS time
  * (driver-side, per query) grows linearly even when pruning opens few
  * dirs; a year of hourly commits (~9k deltas) turns every query into
  * a driver bottleneck. The grouped scan batches consecutive dirs that
  * share a delete horizon + schema-op set into ONE multi-path parquet
  * relation, so the plan is O(delete commits + schema ops), not
  * O(appends).
  *
  * Usage: `runMain graft.ManifestScaleProbe [nAppends] [nDeletes]`
  * (defaults 2000, 3). Prints, for the assembled table:
  *   - commit wall time (context, not the subject),
  *   - read() plan CONSTRUCTION+ANALYSIS time,
  *   - optimized-plan node count and FileSourceScan relation count,
  *   - full count() wall time,
  *   - the same for a filtered (range-pruned) read of a 100-key slice.
  * BASELINE.md pins the numbers. */
object ManifestScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val nDel = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-manifest-scale-probe")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = java.nio.file.Files
      .createTempDirectory("manifest_scale").toString
    val t0 = System.nanoTime()
    // n tiny appends with stats on k (the hourly-commit shape), a few
    // deletes sprinkled through so the horizon actually splits runs
    val delEvery =
      if (nDel <= 0) Int.MaxValue else math.max(1, n / (nDel + 1))
    (0 until n).foreach { i =>
      Snapshots.commitAppendStats(
        Seq((i.toLong, s"row$i")).toDF("k", "v"), root, "k")
      if (i > 0 && i % delEvery == 0)
        Snapshots.commitDelete(Seq(Tuple1(i.toLong - 1)).toDF("k"),
          root, "k")
    }
    val commitSec = (System.nanoTime() - t0) / 1e9

    def probe(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val a0 = System.nanoTime()
      val df = mk
      val analyzed = df.queryExecution.optimizedPlan // forces analysis
      val nodes = analyzed.collect { case p => p }.size
      val planSec = (System.nanoTime() - a0) / 1e9
      val scans = analyzed.collect { case l: LogicalRelation => l }.size
      val c0 = System.nanoTime()
      val rows = df.count()
      val countSec = (System.nanoTime() - c0) / 1e9
      println(f"$label%-12s plan=$planSec%8.3fs nodes=$nodes%5d " +
        f"scans=$scans%4d count=$rows%7d in $countSec%8.3fs")
    }

    println(f"table: $n appends + $nDel deletes, commit wall " +
      f"$commitSec%.1fs ($root)")
    probe("read")(Snapshots.read(spark, root))
    probe("read(2nd)")(Snapshots.read(spark, root))
    probe("filtered")(Snapshots.read(spark, root,
      org.apache.spark.sql.functions.col("k").between(n / 2L, n / 2L + 99L),
      None))

    // MANIFEST-SIZE telemetry (round-19; the r18 VERDICT's #7): each
    // manifest lists every live dir + its stats lines, so the TEXT
    // REWRITTEN PER COMMIT is O(live dirs) — growth that nothing
    // measured before. Report: head manifest bytes, total manifest
    // bytes across retained history (the O(n²) accumulation), the
    // per-commit write at the end of the run, and the same after ONE
    // OPTIMIZE + EXPIRE round (the maintenance that bounds it). The
    // numbers go to BASELINE.md; two-level manifest-list indirection
    // only becomes worth its complexity if the bounded (maintained)
    // numbers here say so.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestBytes(): (Long, Long, Int) = {
      val snaps = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("snap-"))
      val head = Snapshots.current(spark, root).get.id
      val headBytes = snaps.find(_.getPath.getName == s"snap-$head")
        .map(_.getLen).getOrElse(0L)
      (headBytes, snaps.map(_.getLen).sum, snaps.size)
    }
    val (headB, totB, nMan) = manifestBytes()
    println(f"manifests: head=$headB%d B, total=$totB%d B over " +
      f"$nMan%d retained (avg ${totB / math.max(nMan, 1)}%d B/commit)")
    val o0 = System.nanoTime()
    Snapshots.commitRewrite(spark, root)
    Snapshots.expire(spark, root, keepLast = 2)
    Snapshots.vacuum(spark, root)
    val maintSec = (System.nanoTime() - o0) / 1e9
    val (headB2, totB2, nMan2) = manifestBytes()
    println(f"after OPTIMIZE+EXPIRE(2)+VACUUM ($maintSec%.1fs): " +
      f"head=$headB2%d B, total=$totB2%d B over $nMan2%d retained")
    // the maintained head must be commit-count-independent: a handful
    // of dirs' worth of text, not O(n)
    probe("read(maint)")(Snapshots.read(spark, root))
    spark.stop()
  }
}
