package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Skew probe (r14 verdict #2) — runs banded-builder queries against
  * a [[ScaleGen]] `--skew` corpus (a degenerate band bucket / hot
  * quantizer cell holding ~14% of the corpus) and reports, per query:
  *
  *  - wall seconds, and
  *  - the MAX SHUFFLE-READ ROWS any single task consumed — the
  *    quantity that actually walls at 100 TB. A bucket-key WINDOW
  *    funnels the whole hot partition into one task no matter what
  *    AQE does; the groupBy-occupancy plan leaves only joins, which
  *    AQE's skew handling CAN split, so the per-task maximum stays
  *    bounded by the advisory partition size instead of growing with
  *    the hot bucket.
  *
  * The session pins aggressive AQE skew thresholds (the local corpus
  * is MBs, not the 256 MB default threshold) so the 100 TB mitigation
  * actually engages at probe scale; both sides of an A/B run use the
  * same confs, so the comparison isolates the plan shape.
  *
  * Usage: runMain graft.tools.SkewProbe <sfDir> [q1,q2,...]
  * One JSON line per query:
  *   {"metric":"skewprobe","query":...,"sec":...,"max_task_rows":...}
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val settings = graft.Settings.fromEnv()
    val sfDir = if (args.length > 0) args(0) else settings.sfDir
    val queries = if (args.length > 1) args(1).split(",").toSeq
      else Seq("d_minhash_lsh", "s_knn_graph")
    val spark = settings.buildSession(aqe = true)
    // make AQE's skew mitigation engage at probe scale (same confs on
    // both sides of an A/B run)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "262144")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "1048576")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "2.0")
    val maxTask = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val rows = m.shuffleReadMetrics.recordsRead
          var cur = maxTask.get()
          while (rows > cur && !maxTask.compareAndSet(cur, rows))
            cur = maxTask.get()
        }
      }
    })
    // untimed warmup (the Bench stance)
    graft.Tables.documents(spark, sfDir).limit(1).count()
    queries.foreach { q =>
      maxTask.set(0)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: drain the tail of task-end events
      // deterministically before reading the max (r16 — replaces the
      // old 2-second sleep with the bridge Bench uses)
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      println(s"""{"metric":"skewprobe","query":"$q","sf":"$sfDir",""" +
        s""""sec":${math.round(sec * 1000) / 1000.0},""" +
        s""""max_task_rows":${maxTask.get()}}""")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
