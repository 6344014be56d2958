package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.functions.col

import graft.sources.ArtifactStore
import graft.streaming.ReportStream

/** The engine's `file:` I/O starts no `chmod` or `readlink` child
  * process: a two-batch report pipe drain (sink writes, checkpoint
  * renames) plus one artifact build and claim run under a JFR
  * recording of `jdk.ProcessStart`, and no recorded command may be
  * one of them.
  */
class ForkGuardSpec extends SparkSpec {

  private def commands(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("graft_forks", ".jfr")
      rec.dump(out)
      try RecordingFile.readAllEvents(out).asScala.toSeq
        .map(_.getString("command"))
      finally Files.delete(out)
    } finally rec.close()
  }

  test("a pipe drain and an artifact claim fork no chmod or readlink") {
    val in = Files.createTempDirectory("graft_fork_in").toString
    val out = Files.createTempDirectory("graft_fork_out").toString
    val ck = Files.createTempDirectory("graft_fork_ck").toString
    val staging = Files.createTempDirectory("graft_fork_stage").toString
    val raw = Tables.eventsRaw(spark, sf)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    raw.withColumn("event_id", col("event_id") + 10000000L)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/late_events.parquet"))
    val root = Files.createTempDirectory("graft_fork_root").toString

    val seen = commands {
      // proves the recording sees this JVM's process starts
      new ProcessBuilder("true").start().waitFor()
      val q = ReportStream.pipelineStar(
        ReportStream.fileSource(spark, in, raw), out, ck)
      q.awaitTermination(120000)
      q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 2,
        "the drain must run two batches")
      ArtifactStore.rootOverride = Some(root)
      try assert(ArtifactStore.materialize(spark, "fork.family", in)(
        spark.range(10).toDF("k")).count() === 10)
      finally {
        ArtifactStore.rootOverride = None
        Artifacts.clear(spark)
      }
    }
    assert(seen.contains("true"), s"recorded: $seen")
    val forks = seen.filter(c =>
      c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.size === 0, s"chmod/readlink forks, e.g. ${forks.take(3)}")
  }
}
