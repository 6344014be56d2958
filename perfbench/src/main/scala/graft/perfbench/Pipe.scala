package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Star
import graft.streaming.ReportStream

/** The report pipe as a multi-batch stream: `pipelineStar` drains a
  * pre-staged backlog of event files, one file per trigger (the file
  * source's default), closed loop — the next batch starts when the last
  * one commits.
  */
object Pipe {

  /** Batch time keeps falling for some twenty batches while the JIT
    * compiles the per-batch driver code (planning, the sink's actions,
    * the trigger loop). Set-up therefore runs `WarmStreams` throwaway
    * drains of `WarmFiles` files side by side — driver-bound batches
    * leave cores idle, so this warms the shared code several times
    * faster than one stream — and the measured drain then skips its
    * first `WarmBatches` batches: the first creates the sink, the
    * second is the first to probe it.
    */
  val WarmStreams = 3
  val WarmFiles = 4
  val WarmBatches = 2

  /** Rows per staged file, so per micro-batch. */
  val FileRows = 5000L

  /** Measured batches after the warm ones. The count is fixed, so every
    * run of every commit drains the same backlog; at the commit that
    * defined the benchmark a steady batch took about 1.2 s on a 4-vCPU
    * VM, so the drain lasts about 14 s (`run_seconds`).
    */
  val SteadyBatches = 12

  /** Share of rows sent again in a later file (at-least-once source). */
  val Redelivery = 0.02

  /** Writes the backlog for `seed` under `dir`: `in/` holds one parquet
    * file per batch, ordered by modification time; `data/events.parquet`
    * is the distinct event table the files were cut from.
    */
  def stage(spark: SparkSession, seed: Long, files: Int, fileRows: Long,
      dir: String): Unit = {
    val base = Gen.events(spark, seed, files * fileRows)
      .withColumn("f", floor(col("event_id") / fileRows).cast("int"))
    val again = base
      .filter(Gen.u(col("event_id"), seed, 91) < Redelivery)
      .withColumn("f", col("f") + 1 +
        Gen.ui(col("event_id"), seed, 92, 3L).cast("int"))
      .filter(col("f") < files)
    base.drop("f").coalesce(1).write.parquet(s"$dir/data/events.parquet")
    base.withColumn("copy", lit(0))
      .unionByName(again.withColumn("copy", lit(1)))
      .repartition(files, col("f"))
      .sortWithinPartitions(xxhash64(col("event_id"), col("copy"), lit(seed)))
      .drop("copy")
      .write.partitionBy("f").parquet(s"$dir/parts")
    val in = new File(s"$dir/in")
    in.mkdirs()
    val t0 = System.currentTimeMillis() - files * 1000L
    (0 until files).foreach { i =>
      val part = new File(s"$dir/parts/f=$i").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"file $i staged as ${part.length} parts")
      val dst = new File(in, f"events-$i%05d.parquet")
      require(part.head.renameTo(dst), s"cannot move $dst")
      dst.setLastModified(t0 + i * 1000L)
    }
    Files.delete(new File(s"$dir/parts"))
  }

  def run(spark: SparkSession, seed: Long, runDir: String,
      tracer: Option[Tracer]): Map[String, Any] = {
    val files = WarmBatches + SteadyBatches
    // set-up is measured three times; the last staging is the one run
    val stageS = (1 to 3).map { r =>
      Files.delete(new File(s"$runDir/stage"))
      val t0 = System.nanoTime()
      stage(spark, seed, files, FileRows, s"$runDir/stage")
      (System.nanoTime() - t0) / 1e9
    }
    val dir = s"$runDir/stage"
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val t0 = System.currentTimeMillis()
    warmUp(spark, dir)
    tracer.foreach(_.start())
    val q = ReportStream.pipelineStar(
      ReportStream.fileSource(spark, s"$dir/in",
        Tables.eventsRaw(spark, s"$dir/data")),
      s"$dir/out", s"$dir/checkpoint")
    val finished = q.awaitTermination(150000L)
    val error = q.exception.map(_.getMessage)
    if (!finished) q.stop()
    tracer.foreach(_.stop())
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Map("batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> ms("triggerExecution"), "rows" -> p.numInputRows,
        "phases" -> Seq("latestOffset", "walCommit", "getBatch",
          "queryPlanning", "addBatch", "commitOffsets")
          .map(k => k -> ms(k)).toMap)
    }
    val warmEnd = batches.lift(WarmBatches)
      .map(_("start_ms").asInstanceOf[Long]).getOrElse(t0)
    val ops = tracer.map(_ => opSpans(batches)).getOrElse(Nil)
    Map("files" -> files, "warm_batches" -> WarmBatches,
      "file_rows" -> FileRows, "batches" -> batches,
      "stage_s" -> stageS, "warmup_s" -> (warmEnd - t0) / 1000.0,
      "stream_error" -> error,
      "checks" -> check(spark, dir, files, batches.size),
      "spans" -> (if (tracer.isEmpty) Nil else ops ++ tracer.get.spans(ops)))
  }

  private def warmUp(spark: SparkSession, dir: String): Unit = {
    val in = new File(s"$dir/warm/in")
    in.mkdirs()
    (0 until WarmFiles).foreach { i =>
      val src = new File(s"$dir/in", f"events-$i%05d.parquet")
      val dst = new File(in, src.getName)
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(src.lastModified)
    }
    val raw = Tables.eventsRaw(spark, s"$dir/data")
    val qs = (0 until WarmStreams).map { k =>
      ReportStream.pipelineStar(ReportStream.fileSource(spark, in.getPath, raw),
        s"$dir/warm/out$k", s"$dir/warm/checkpoint$k")
    }
    qs.foreach(_.awaitTermination(120000L))
    qs.foreach(q => q.exception.foreach(e => throw e))
    Files.delete(new File(s"$dir/warm"))
  }

  /** One span per micro-batch and one per trigger phase. Progress gives
    * phase durations but not their starts, so phases are laid end to
    * end in the order the trigger runs them.
    */
  private def opSpans(batches: Seq[Map[String, Any]]): Seq[Span] = {
    var next = 0L
    batches.flatMap { b =>
      val start = b("start_ms").asInstanceOf[Long].toDouble
      val trace = b("batch").toString
      val op = Span(next, -1L, trace, "batch", s"batch $trace", start,
        start + b("trigger_ms").asInstanceOf[Long])
      next += 1
      var t = start
      val phases = b("phases").asInstanceOf[Map[String, Long]].toSeq
        .sortBy { case (k, _) => Seq("latestOffset", "walCommit",
          "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .indexOf(k) }
        .map { case (k, d) =>
          val sp = Span(next, op.id, trace, "phase", k, t, t + d)
          next += 1
          t += d
          sp
        }
      op +: phases
    }
  }

  /** Output checks: the sink holds exactly one fact per distinct valid
    * event sent and those facts equal a batch fact projection over the
    * same events; the dead-letter table holds one row per error row
    * sent, redeliveries included.
    */
  private def check(spark: SparkSession, dir: String, files: Int,
      committed: Int): Map[String, Any] = {
    val sent = spark.read.schema(Tables.eventsRaw(spark, s"$dir/data").schema)
      .parquet(s"$dir/in")
    val parsed = ReportStream.parsedEvents(sent)
    val expected = Star.factProjection(
      parsed.filter(col("event_type") =!= "error")).dropDuplicates("event_id")
    val cols = expected.columns.toSeq
    def summary(df: DataFrame): (Long, Long, Long) = {
      val r = df.select(cols.map(col): _*).agg(count(lit(1)),
        countDistinct(col("event_id")),
        sum(pmod(xxhash64(cols.map(col): _*), lit(1000000007L)))).head()
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    def readOr(path: String): Option[DataFrame] =
      if (new File(path).exists()) Some(spark.read.parquet(path)) else None
    val (nExp, _, hExp) = summary(expected)
    val (nGot, nDistinct, hGot) =
      readOr(s"$dir/out/fact_report").map(summary).getOrElse((0L, 0L, 0L))
    val deadExp = sent.filter(col("event_type") === "error").count()
    val deadGot = readOr(s"$dir/out/dead_letter").map(_.count()).getOrElse(0L)
    val lost = math.max(0L, nExp - nDistinct)
    val dup = nGot - nDistinct
    val failed = (files - committed) + lost + dup + math.abs(deadExp - deadGot) +
      (if (lost == 0 && dup == 0 && hExp != hGot) 1 else 0)
    Map("facts_expected" -> nExp, "facts" -> nGot, "facts_lost" -> lost,
      "facts_duplicated" -> dup, "facts_hash_equal" -> (hExp == hGot),
      "dead_expected" -> deadExp, "dead" -> deadGot,
      "attempted" -> (files + nExp + deadExp),
      "failed" -> failed)
  }
}

private object Files {
  /** Recursive delete; a missing path is fine. */
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
