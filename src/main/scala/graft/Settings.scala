package graft

import org.apache.spark.sql.SparkSession

/** Env-driven runtime settings — the engine's single config surface
  * (the reference centralizes its operational knobs the same way:
  * ref src/core/config.py:1-12 reads the broker/DB/batch knobs from
  * the environment into one settings object). The engine's whole
  * environment surface is nine `SPARK_GRAFT_*` variables. Seven are
  * read HERE, once, with their defaults beside them:
  *
  *  - `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_REPEAT`,
  *    `SPARK_GRAFT_QUERIES`, `SPARK_GRAFT_MAX_PARTITION_BYTES` — the
  *    case-class fields below;
  *  - `SPARK_GRAFT_SCRATCH_DIR` ([[Settings.scratchDir]]) and
  *    `SPARK_GRAFT_ARTIFACT_DIR` ([[Settings.artifactRoot]]).
  *
  * Two are read by the `main` that owns them: `SPARK_GRAFT_BENCH_OUT`
  * (the [[Bench]] result file) and `SPARK_GRAFT_PLAN_FINAL`
  * ([[graft.tools.PlanDump]]'s executed-plan mode). Operators,
  * functions, plans, sources and streaming never read the environment
  * or system properties (`ConfigSurfaceSpec` enforces it); their
  * tuning values are constants.
  *
  * @param sfDir    corpus directory (`SPARK_GRAFT_SF_DIR`)
  * @param cpus     local worker threads AND shuffle partitions
  *                 (`SPARK_GRAFT_CPUS`) — on a real cluster the
  *                 master/partition settings come from spark-submit
  *                 and this knob is ignored
  * @param repeat   bench repetitions per query (`SPARK_GRAFT_REPEAT`)
  * @param queries  optional bench/verify subset (`SPARK_GRAFT_QUERIES`,
  *                 comma-separated)
  * @param maxPartitionBytes scan split size
  *                 (`SPARK_GRAFT_MAX_PARTITION_BYTES`)
  *
  * The artifact-store root is JVM-global rather than per-session (the
  * store addresses by content fingerprints, not by session), so it
  * lives on the companion instead of the case class; `off` disables
  * lake persistence, specs redirect via `ArtifactStore.rootOverride`.
  *
  * Every session (this one and the specs' `SparkSpec.session`) also
  * takes [[Settings.LocalFileIo]]: two constant Hadoop entries, not
  * settable names.
  */
final case class Settings(
    sfDir: String,
    cpus: Int,
    repeat: Int,
    queries: Option[Set[String]],
    maxPartitionBytes: Long = Settings.DefaultMaxPartitionBytes) {

  /** The standard local session under these settings. `aqe = true`
    * matches Spark's own default; the knob exists so a main that is
    * pure streaming can silence the per-query AQE-disable warnings.
    */
  def buildSession(aqe: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
      // reclaim dereferenced shuffle files aggressively: a 175-query
      // bench in ONE JVM otherwise accumulates every query's shuffle
      // blocks until a full GC happens to run the cleaner — at sf10
      // that filled the local disk (r18). Default is 30min; 2min
      // keeps long single-JVM legs flat without touching query plans.
      .config("spark.cleaner.periodicGC.interval", "120s")
      // file-listing locality (r20): the lake merge-on-read paths
      // hand the reader EXPLICIT file lists (~dozens of entries per
      // snapshot read); above this threshold Spark launches a
      // DISTRIBUTED listing job — measured as three ~80-task,
      // ~180 ms stages of pure scheduler overhead per lake query.
      // Below ~512 paths a driver-side stat loop wins on any storage
      // (the default 32 dates from pre-cloud HDFS latencies); a
      // 100 TB directory-table read passes ONE root path and never
      // hits this threshold either way.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", 512)
      // scan parallelism for CPU-heavy decodes: the default 128 MB
      // packing gave a 60M-row sf10 fact scan only ~9 input tasks on
      // 32 cores (22 MB part files pack 5-6 per task) — q3/parse
      // lines ran 3.5x under-parallel. 32 MB keeps small-SF plans
      // identical (single-file tables) and lets big-SF scans use the
      // machine; overridable via SPARK_GRAFT_MAX_PARTITION_BYTES so a
      // deployment keeps control of scan sizing.
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config(Settings.LocalFileIo)
    // Block-manager/shuffle scratch: Spark defaults to java.io.tmpdir
    // (/tmp), which some hosts reap even under a LIVE JVM — a long
    // verify/bench leg then dies mid-run with
    // FileNotFoundException: /tmp/blockmgr-*/temp_shuffle_* on files
    // Spark itself created minutes earlier. Default the scratch to a
    // directory the host's tmp reaper does not own. An explicit
    // SPARK_LOCAL_DIRS always wins (Spark reads it before
    // spark.local.dir); SPARK_GRAFT_SCRATCH_DIR overrides the default.
    if (!sys.env.contains("SPARK_LOCAL_DIRS")) {
      val scratch = Settings.scratchDir
      new java.io.File(scratch).mkdirs()
      b.config("spark.local.dir", scratch)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Settings {
  /** 32 MB — see the buildSession comment on scan parallelism. */
  val DefaultMaxPartitionBytes: Long = 33554432L

  /** Hadoop `file:` I/O in process. Without Hadoop's native library
    * the stock local filesystem forks a `chmod` for every permission
    * it sets (every `mkdirs`, every `create` with a permission) and a
    * `readlink` for every link-status lookup (both ends of each
    * FileContext rename, i.e. each streaming checkpoint commit). A
    * perfbench `pipe_small` run forked 1,166 `chmod` and 656
    * `readlink`, a `registry` run 1,243 `chmod`. These two entries
    * put [[graft.sources.NioRawLocalFileSystem]] (one NIO call each)
    * under both Hadoop APIs:
    *
    *  - `fs.file.impl`: the FileSystem API (parquet writes, listings,
    *    the artifact store, the sink's `mkdirs`);
    *  - `fs.AbstractFileSystem.file.impl`: the FileContext API, which
    *    Spark's default checkpoint file manager uses (that manager
    *    stays in place, so every other scheme keeps FileContext's
    *    rename semantics).
    *
    * Both are keyed by the `file` scheme and touch nothing else: HDFS
    * and the object stores never forked for these calls.
    */
  val LocalFileIo: Map[String, Any] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.sources.NioLocalFs].getName)

  /** Spark scratch (blockmgr + shuffle temp) when SPARK_LOCAL_DIRS is
    * unset: a working-directory-local dir rather than /tmp, because
    * shared-tmp reapers on some hosts delete live shuffle files out
    * from under a running JVM (observed: 44/175 queries of one leg
    * lost to vanished temp_shuffle files; 0/175 after redirecting).
    * user.dir rather than java.io.tmpdir is deliberate — the process
    * owns its working directory for the lifetime of the run.
    */
  lazy val scratchDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR",
      sys.props.getOrElse("user.dir", ".").stripSuffix("/") +
        "/.spark-scratch")

  /** Artifact-store root: durable shared storage in production, a
    * working-directory-scoped root locally (cross-session reuse per
    * project out of the box), `off` to disable persistence. The
    * default lived under java.io.tmpdir through r18; it moved beside
    * [[scratchDir]] for the same reason Spark scratch did — shared-tmp
    * reapers delete lake-resident trained artifacts out from under
    * live consumers — and because tmp is world-writable shared space:
    * another local user could pre-plant fingerprint-addressed tables
    * the engine would then trust as trained models (the fingerprint
    * addresses content, it does not authenticate it). The default is
    * still created 0700 (see ArtifactStore) and still user-scoped in
    * the path for the setups where user.dir itself is shared. A
    * deployment that WANTS a shared cache points
    * SPARK_GRAFT_ARTIFACT_DIR at storage whose permissions it
    * controls.
    */
  lazy val artifactRoot: String =
    sys.env.get("SPARK_GRAFT_ARTIFACT_DIR").getOrElse {
      val user = sys.props.getOrElse("user.name", "anon")
        .replaceAll("[^A-Za-z0-9_.-]", "_")
      sys.props.getOrElse("user.dir", ".").stripSuffix("/") +
        s"/.graft-artifacts-$user"
    }

  /** True when the artifact root is the tmpdir default (unset env) —
    * ArtifactStore then creates it with owner-only permissions.
    */
  lazy val artifactRootIsDefault: Boolean =
    !sys.env.contains("SPARK_GRAFT_ARTIFACT_DIR")

  def fromEnv(env: Map[String, String] = sys.env): Settings = Settings(
    sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
    repeat = env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt,
    queries = env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet),
    maxPartitionBytes = env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .map(_.toLong).getOrElse(DefaultMaxPartitionBytes))
}
