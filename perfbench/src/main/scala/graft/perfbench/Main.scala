package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => NioFiles, Paths}

import graft.Settings

/** One benchmark run in a fresh JVM: builds the session, sets up and
  * measures one workload, and writes the run record as JSON. `run.py`
  * launches it and turns the record into metrics.
  *
  * Usage: Main <workload> <seed> <trace 0|1> <runDir> <outFile>
  */
object Main {

  /** Every workload runs at `local[4]`, one process. */
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, traceS, runDir, outFile) = args
    val seed = seedS.toLong
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Settings(sfDir = s"$runDir/data", cpus = Cpus, repeat = 1,
      queries = None).buildSession(aqe = true)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = if (traceS == "1") Some(new Tracer(spark)) else None
    val body = workload match {
      case "pipe_small" => Pipe.run(spark, seed, runDir, tracer)
      case "registry" => Registry.run(spark, seed, runDir, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val record = body ++ Map("workload" -> workload, "seed" -> seed,
      "session_s" -> sessionS, "cpus" -> Cpus)
    NioFiles.writeString(Paths.get(outFile), Json(record))
    spark.stop()
  }
}
