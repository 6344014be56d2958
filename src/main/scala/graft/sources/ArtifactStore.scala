package graft.sources

import java.io.{ObjectInputFilter, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Durable persistence for the engine's standing artifacts —
  * the build-once relations and trained models the scaladocs across
  * Dedup/Similarity/TextAnalysis all describe as "a lake table in
  * production": the dup-cluster map, the LSH band index and its gram
  * verify relation, the winnowed fingerprint index, the quantizer
  * cells, the IVF/k-means/SQ8 codebooks, the BPE merge table.
  *
  * Until round 12 those artifacts were session-lifetime
  * `localCheckpoint` handles — fast, but explicitly NOT
  * fault-tolerant (one lost executor kills the handle mid-session and
  * every consumer after it fails) and gone at session end, so every
  * new session re-paid the build. This store closes both gaps with
  * one write per artifact: a relation is plain parquet (a read is a
  * parquet scan that survives executor loss like any other table), a
  * driver-side value is one Java-serialized file, and a FRESH session
  * (or a second driver process on the same storage) reads the
  * artifact with zero rebuild.
  *
  * Addressing & staleness — the table path IS the cache key:
  * `root/<family>/<fingerprint>`, where the fingerprint hashes
  * (a) the corpus directory path and the (relative path, length,
  * mtime) of every file under it — new/changed corpus data can never
  * serve a stale artifact — and (b) a code fingerprint of the
  * engine's own compiled classes/jar, so a REBUILT engine (new
  * algorithm, new constants) never trusts an artifact trained by old
  * code. Stale fingerprints simply stop being addressed; they are
  * plain directories under the root, reclaimed by deleting the root
  * (a deployment would age them out like any cache volume).
  *
  * Storage shape: an address holds the data files the build wrote,
  * with the build's own partitioning, and `_manifest/v0.json` naming
  * them ([[Manifest]]). A relation is read back with the manifest's
  * schema, so serving it runs no Spark job; a value is read by the
  * driver alone, through an allowlist of the classes values are made
  * of ([[ValueFilter]]). Artifact relations keep the rows the build
  * produced: every build in the engine is already a distinct-row
  * index or model.
  *
  * One claim protocol ([[claim]]) serves all three entry points: a
  * build lands in a `.build-*` sibling of its address and one rename
  * claims the address. Builds are deterministic (oracle-gated), so
  * two sessions racing to persist the same fingerprint write
  * identical content and the rename picks a winner harmlessly; the
  * loser drops its own copy and serves the winner's.
  *
  * Root resolution: `SPARK_GRAFT_ARTIFACT_DIR` (a production
  * deployment points this at durable shared storage, e.g. the bucket
  * next to the corpus); default is a per-machine tmp root so local
  * sessions get cross-session reuse out of the box; the literal value
  * `off` disables persistence entirely (artifacts fall back to the
  * round-11 eager localCheckpoint stance). Specs redirect via
  * [[rootOverride]].
  */
object ArtifactStore {

  /** Spec/driver hook: redirect (Some(dir)), disable (Some("off")),
    * or restore env resolution (None).
    */
  @volatile var rootOverride: Option[String] = None

  private def configuredRoot: String =
    rootOverride.getOrElse(graft.Settings.artifactRoot)

  def enabled: Boolean = {
    val r = configuredRoot
    r.nonEmpty && r != "off"
  }

  // ------------------------------------------------------------------
  // Fingerprints
  // ------------------------------------------------------------------

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Fingerprint of the engine's own compiled code — CONTENT-based:
    * every .class entry's (name, size, CRC32) in sorted order, read
    * from the jar the class loaded from (zip entry CRCs are of the
    * uncompressed bytes, so they survive repackaging — sbt's runMain
    * assembles a FRESH temp jar per invocation, and a path/mtime
    * fingerprint would retire every artifact on every run) or walked
    * from an sbt classes directory. Any real recompile changes some
    * class's bytes and with them the digest, so an artifact trained
    * by OLD code is never served to new code — the guard that makes
    * cross-session reuse safe across engine versions. Computed once
    * per JVM.
    */
  private lazy val codeFingerprint: String = {
    val src = getClass.getProtectionDomain.getCodeSource
    val loc = if (src == null) null else src.getLocation
    if (loc == null) "nocode"
    else {
      val f = new java.io.File(loc.toURI)
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      if (f.isFile) {
        val zf = new java.util.zip.ZipFile(f)
        try {
          val en = zf.entries()
          while (en.hasMoreElements) {
            val e = en.nextElement()
            if (e.getName.endsWith(".class"))
              entries += s"${e.getName}:${e.getSize}:${e.getCrc}"
          }
        } finally zf.close()
      } else {
        def walk(d: java.io.File, rel: String): Unit = {
          val fs = d.listFiles()
          if (fs != null) fs.foreach { c =>
            if (c.isDirectory) walk(c, s"$rel${c.getName}/")
            else if (c.getName.endsWith(".class")) {
              val crc = new java.util.zip.CRC32
              crc.update(java.nio.file.Files.readAllBytes(c.toPath))
              entries += s"$rel${c.getName}:${c.length}:${crc.getValue}"
            }
          }
        }
        walk(f, "")
      }
      md5hex(entries.sorted.mkString("|"))
    }
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Fingerprint of the corpus: every file's (relative path, length,
    * mtime) under `corpusDir`, recursively, sorted. One driver-side
    * listing per (JVM, corpus) — cached because artifact lookups are
    * hot and corpora in this engine are immutable snapshots.
    */
  private val corpusFps =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def corpusFingerprint(spark: SparkSession,
      corpusDir: String): String =
    corpusFps.getOrElseUpdate(corpusDir, {
      val f = fs(spark, corpusDir)
      val root = new Path(corpusDir)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(p: Path): Unit =
        f.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else buf += s"${st.getPath.toString.stripPrefix(root.toString)}:" +
            s"${st.getLen}:${st.getModificationTime}"
        }
      if (f.exists(root)) walk(root)
      md5hex(corpusDir + "|" + buf.mkString("|"))
    })

  /** The directory addressing (family, corpus, code). */
  private[graft] def tableDir(spark: SparkSession, family: String,
      corpusDir: String): String =
    s"$configuredRoot/$family/" +
      md5hex(corpusFingerprint(spark, corpusDir) + "|" + codeFingerprint)
        .take(16)

  // ------------------------------------------------------------------
  // Load / save counters (spec + telemetry hooks)
  // ------------------------------------------------------------------

  private val loadCounts =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private val saveCounts =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Times this JVM served `family` from the store with zero rebuild. */
  def loads(family: String): Int = loadCounts.getOrElse(family, 0)

  /** Times this JVM built `family` and claimed it in the store. */
  def saves(family: String): Int = saveCounts.getOrElse(family, 0)

  private def bump(m: scala.collection.concurrent.TrieMap[String, Int],
      k: String): Unit =
    m.updateWith(k) { v => Some(v.getOrElse(0) + 1) }

  // ------------------------------------------------------------------
  // Materialization
  // ------------------------------------------------------------------

  private implicit val formats: Formats = DefaultFormats

  /** The v0 manifest of a relation or value artifact: the data files
    * the build wrote (names under the address), the relation's schema
    * (None for a value) and the claim stamp [[vacuum]] ages it by.
    * [[materializeDir]] addresses hold a lake table's own manifest at
    * the same path instead.
    */
  private final case class Manifest(files: List[String],
      schemaDdl: Option[String], committedAtMs: Long)

  private def manifestPath(dir: String): Path =
    new Path(s"$dir/_manifest/v0.json")

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(manifestPath(dir))

  private def readV0(s: SparkSession, dir: String): JValue = {
    val in = fs(s, dir).open(manifestPath(dir))
    try JsonMethods.parse(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  /** Finish a build in `tmp`: name every data file it wrote. */
  private def writeManifest(s: SparkSession, tmp: String,
      schema: Option[StructType]): Unit = {
    val f = fs(s, tmp)
    val files = f.listStatus(new Path(tmp)).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    val out = f.create(manifestPath(tmp), false)
    try out.write(Serialization.write(Manifest(files.toList,
      schema.map(_.toDDL), System.currentTimeMillis)).getBytes("UTF-8"))
    finally out.close()
  }

  private val ValueFile = "value.ser"
  private val MaxValueBytes = 1L << 30

  /** The classes a value artifact may name: boxed primitives, strings,
    * Scala tuples (and their specialized subclasses) and the forms an
    * immutable Map serializes as (the small maps, and the proxy a
    * HashMap writes), plus arrays of any of them or of primitives.
    * Every other class is refused before an instance exists, so a
    * planted file can run none of its code; depth, array length and
    * stream size are capped.
    */
  private val ValueClass = ("""java\.lang\.(Number|Long|Integer|Double|""" +
    """Boolean|String)|scala\.Tuple\d+(\$mc\w+\$sp)?|""" +
    """scala\.collection\.immutable\.(Map\$(Map\d|EmptyMap\$)|HashMap\$?)|""" +
    """scala\.collection\.(generic\.DefaultSerializationProxy|""" +
    """MapFactory\$ToFactory)|scala\.runtime\.ModuleSerializationProxy""").r

  private val ValueFilter: ObjectInputFilter = { info =>
    var c = info.serialClass()
    while (c != null && c.isArray) c = c.getComponentType
    val ok = info.depth() <= 8 && info.streamBytes() <= MaxValueBytes &&
      info.arrayLength() <= (MaxValueBytes >> 3) &&
      (c == null || c.isPrimitive || ValueClass.matches(c.getName))
    if (ok) ObjectInputFilter.Status.ALLOWED
    else ObjectInputFilter.Status.REJECTED
  }

  private def writeValue(s: SparkSession, tmp: String, v: Any): Unit = {
    val out = fs(s, tmp).create(new Path(tmp, ValueFile), false)
    try {
      val oos = new ObjectOutputStream(out)
      oos.writeObject(v)
      oos.flush()
    } finally out.close()
    writeManifest(s, tmp, None)
  }

  private def readValue(s: SparkSession, dir: String): Any = {
    val in = fs(s, dir).open(new Path(dir, ValueFile))
    try {
      val ois = new ObjectInputStream(in)
      ois.setObjectInputFilter(ValueFilter)
      ois.readObject()
    } finally in.close()
  }

  /** Create the artifact root before the first persist. When the
    * root is the tmpdir DEFAULT (env unset, no spec override) it is
    * pinned owner-only: java.io.tmpdir is world-writable shared
    * space, and a group/world-readable cache there both collides
    * across users and lets another user pre-plant content at a
    * fingerprint address (addresses identify content, they don't
    * authenticate it). Explicitly-configured roots keep whatever
    * permissions the deployment chose.
    */
  private def ensureRoot(s: SparkSession): Unit = {
    val rootDir = configuredRoot
    val f = fs(s, rootDir)
    val p = new Path(rootDir)
    if (!f.exists(p)) {
      f.mkdirs(p)
      if (rootOverride.isEmpty && graft.Settings.artifactRootIsDefault)
        try f.setPermission(p,
          new org.apache.hadoop.fs.permission.FsPermission("700"))
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** True ONLY for the corruption signatures quarantine exists for:
    * the v0 manifest is unparseable, or a data file it names is gone
    * (a partial external vacuum, a torn copy). Everything else a
    * load can throw — permission blip, transient FS error, concurrent
    * maintenance mid-listing — returns false: a committed SHARED
    * artifact other live sessions are reading must never be destroyed
    * over a failure that may not be the artifact's fault.
    */
  private def isCorrupt(s: SparkSession, dir: String): Boolean =
    try {
      val v0 = readV0(s, dir)
      val names = (v0 \ "files").extractOpt[List[String]] match {
        case Some(files) => files.map(new Path(dir, _))
        case None => // a lake table: its partitions name the files
          val m = v0.extract[LakeMerge.Manifest]
          m.partitions.flatMap { e =>
            val base = if (e.dir.startsWith("/")) e.dir else s"$dir/${e.dir}"
            e.files.map(fn => new Path(s"$base/${m.dtCol}=${e.dt}/$fn"))
          }
      }
      val f = fs(s, dir)
      names.exists(!f.exists(_))
    } catch {
      case e: Exception if corruption(e) => true
      case scala.util.control.NonFatal(_) => false // transient: keep it
    }

  /** The failures that prove an artifact can never be read: an
    * unparseable manifest, bytes that contradict their checksum (how
    * Hadoop's checksummed FS surfaces torn content before a parser
    * sees it), and a value file that is torn or names a class outside
    * [[ValueFilter]].
    */
  private def corruption(e: Exception): Boolean = e match {
    case _: com.fasterxml.jackson.core.JacksonException |
         _: org.json4s.MappingException |
         _: org.apache.hadoop.fs.ChecksumException |
         _: java.io.ObjectStreamException | _: java.io.EOFException |
         _: ClassNotFoundException => true
    case _ => false
  }

  /** Quarantine a CORRUPT committed dir by renaming it aside
    * (tombstone), never recursive-delete: a rename never deletes
    * files a concurrent reader of the address still holds, keeps the
    * bytes for post-mortem, and the tombstone (still a dir with a
    * stamped v0 manifest under the family dir) ages out through the
    * normal [[vacuum]] retention by that stamp.
    * Best-effort: if the rename fails the corrupt dir keeps the
    * address and the rebuild's claim loses to it.
    */
  private def quarantine(s: SparkSession, dir: String): Unit =
    try {
      val f = fs(s, dir)
      val dst = new Path(dir + ".tombstone-" + System.currentTimeMillis)
      if (!f.rename(new Path(dir), dst)) () // racing quarantine won
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The one claim protocol behind all three entry points. A standing
    * dir at the address is served unless it is verifiably corrupt
    * ([[isCorrupt]] before serving, [[corruption]] while serving), in
    * which case it is tombstoned aside ([[quarantine]]) and rebuilt.
    * A build lands in a sibling `.build-*` dir and ONE rename claims
    * the address; the loser of a race deletes its own bytes and
    * serves the winner's (rename-into-existing fails on every
    * relevant FS). `serve` turns the claimed address into the
    * artifact and gets the build's result when this call built it.
    * If build-and-claim throws (an unusable root, a failed rename, a
    * failed build) the event is recorded as `build` and the
    * session-local form `local` is served instead; `local` runs the
    * build again, so a real build failure still surfaces. With
    * persistence off `local` is all there is.
    */
  private def claim[B, T](s: SparkSession, family: String,
      corpusDir: String)(build: String => B)(
      serve: (String, Option[B]) => T)(local: => T): T = {
    def scoped[R](body: => R): R =
      graft.Artifacts.nestedScope(family, corpusDir)(body)
    def record(t0: Long, kind: String): Unit =
      graft.Artifacts.record(family, corpusDir,
        (System.nanoTime() - t0) / 1000000, kind)
    if (!enabled) return scoped(local)
    val dir = tableDir(s, family, corpusDir)
    val t0 = System.nanoTime()
    val standing =
      if (!exists(s, dir)) None
      else if (isCorrupt(s, dir)) { quarantine(s, dir); None }
      else try Some(serve(dir, None)) catch {
        case e: Exception if corruption(e) => quarantine(s, dir); None
      }
    if (standing.nonEmpty) {
      bump(loadCounts, family)
      record(t0, "lake_load")
      standing.get
    } else try {
      ensureRoot(s)
      val f = fs(s, dir)
      val tmp = new Path(dir + ".build-" +
        java.util.UUID.randomUUID().toString.take(8))
      var claimed = false
      val built =
        try {
          val b = scoped(build(tmp.toString))
          // Claim by rename. On HDFS-like filesystems rename(src,
          // existingDst) moves src INTO dst and returns true, so an
          // existing dst is a lost race BEFORE renaming; after a true
          // rename, the claim must show a readable v0 manifest at the
          // address AND no nested build tree (the into-existing
          // signature) before it counts as ours.
          val nested = new Path(dir, tmp.getName)
          claimed =
            try {
              !f.exists(new Path(dir)) && f.rename(tmp, new Path(dir)) && {
                if (f.exists(nested)) { f.delete(nested, true); false }
                else exists(s, dir)
              }
            } catch { case scala.util.control.NonFatal(_) => false }
          b
        } finally {
          // never leave a partial .build-* under the family root
          if (!claimed) f.delete(tmp, true)
        }
      if (claimed) {
        bump(saveCounts, family)
        val out = serve(dir, Some(built))
        record(t0, "build_persist")
        out
      } else {
        // a racing session claimed the address: serve the winner
        bump(loadCounts, family)
        serve(dir, None)
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        val out = scoped(local)
        record(t0, "build")
        out
    }
  }

  /** Stored-else-build-and-write for a DataFrame artifact: the build
    * is written as plain parquet with its own partitioning, named by
    * the manifest and claimed by [[claim]]. The returned relation is
    * a parquet scan under the manifest's schema (fault-tolerant,
    * shared across sessions, no Spark job until the consumer's own
    * action); with persistence off, or when build-and-claim fails, it
    * is the eager localCheckpoint handle. An EMPTY build persists
    * like any other and reads back as an empty relation with the
    * recorded schema.
    */
  def materialize(s: SparkSession, family: String, corpusDir: String)(
      build: => DataFrame): DataFrame =
    claim(s, family, corpusDir) { tmp =>
      val df = build
      df.write.parquet(tmp)
      writeManifest(s, tmp, Some(df.schema))
    } { (dir, _) =>
      val ddl = readV0(s, dir).extract[Manifest].schemaDdl.get
      s.read.schema(StructType.fromDDL(ddl)).parquet(dir)
    }(build.localCheckpoint(true))

  /** Stored-else-build for a whole TABLE-DIRECTORY artifact (r15
    * verdict #8) — the L-family demo tables (merged / conditional /
    * MOR / restored) whose artifact is not one relation but a lake
    * dir with a specific VERSION HISTORY the consumers pin into
    * (`read(..., Some(1))`, change feeds, meta stats). `build` gets a
    * fresh path and must leave a committed table there, which
    * [[claim]] then claims; the content address (corpus + code
    * fingerprint) guarantees any code change re-builds, so a cold JVM
    * on an unchanged build serves the standing directory for the cost
    * of a manifest probe. With persistence off, or when
    * build-and-claim fails, the table is built in a session-local tmp
    * dir.
    */
  def materializeDir(s: SparkSession, family: String,
      corpusDir: String)(build: String => Unit): String =
    claim(s, family, corpusDir)(build)((dir, _) => dir) {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft_${family.replace('.', '_')}")
        .toString
      build(tmp)
      tmp
    }

  /** Retention for the artifact root: every engine recompile and
    * every corpus change re-addresses its artifacts under a fresh
    * fingerprint, stranding the old dirs — this is the cleanup a
    * deployment cron runs. An artifact's age is its OWN v0 stamp
    * (`committedAtMs`, which both the store's manifest and a
    * [[materializeDir]] lake table carry); anything older than the
    * cutoff is deleted, whole address dirs at a time. Unparseable
    * dirs (a torn half-written build that never committed) are
    * deleted too — with no v0 manifest nothing can ever read them —
    * but only once their directory mtime is past the cutoff: a
    * build's data files land in its `.build-*` dir BEFORE the
    * manifest, so an unconditional delete would race an in-flight
    * build in another session and strip its persist out from under
    * the claim. Returns
    * the deleted dirs. Safe to run concurrently with readers of LIVE
    * fingerprints (current code + corpus always re-derives a current
    * address, and a current build is never older than the cutoff a
    * retention policy uses).
    */
  def vacuum(spark: SparkSession, olderThanMs: Long): Seq[String] = {
    val rootDir = configuredRoot
    if (!enabled) return Nil
    val f = fs(spark, rootDir)
    val root = new Path(rootDir)
    if (!f.exists(root)) return Nil
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    f.listStatus(root).filter(_.isDirectory).foreach { fam =>
      f.listStatus(fam.getPath).filter(_.isDirectory).foreach { fp =>
        val dir = fp.getPath.toString
        val stamp =
          try {
            if (!exists(spark, dir)) None
            else (readV0(spark, dir) \ "committedAtMs").extractOpt[Long]
          } catch { case scala.util.control.NonFatal(_) => None }
        // stamped dirs expire by their commit stamp; unstamped/torn
        // dirs by directory mtime (an in-flight build lands data
        // before its manifest — never delete a fresh uncommitted dir)
        if (stamp.getOrElse(fp.getModificationTime) < olderThanMs) {
          f.delete(fp.getPath, true)
          deleted += dir
        }
      }
    }
    deleted.toSeq
  }

  /** Stored-else-build-and-write for a DRIVER-SIDE artifact
    * (codebook arrays, bound pairs, merge tables, scalars): the value
    * is one Java-serialized file claimed by [[claim]], and a fresh
    * session reads it back on the driver with no Spark job instead of
    * re-training it. Returns the value itself when this call built
    * it, the stored copy otherwise; with persistence off, or when
    * build-and-claim fails, the value is built and served
    * session-local.
    */
  def materializeValue[V](s: SparkSession, family: String,
      corpusDir: String)(build: => V): V =
    claim(s, family, corpusDir) { tmp =>
      val v = build; writeValue(s, tmp, v); v
    } { (dir, built) =>
      built.getOrElse(readValue(s, dir).asInstanceOf[V])
    }(build)
}
