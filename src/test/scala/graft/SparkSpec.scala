package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite, local[4], UTC, quiet, and the
  * engine's `file:` I/O ([[Settings.LocalFileIo]]).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Settings.LocalFileIo)
    // same /tmp-reaper dodge as Settings.buildSession — a long suite
    // run loses shuffle temp files to the host's tmp cleaner otherwise
    if (!sys.env.contains("SPARK_LOCAL_DIRS")) {
      new java.io.File(Settings.scratchDir).mkdirs()
      b.config("spark.local.dir", Settings.scratchDir)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
