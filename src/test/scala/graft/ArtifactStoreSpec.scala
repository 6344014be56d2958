package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.sources.ArtifactStore

/** The stored artifact contract (r12 verdict item 1): a standing
  * artifact built in session A is one write claimed by one rename
  * (plain parquet for a relation, one serialized file for a value);
  * a FRESH session serves it from the store with ZERO rebuild
  * (no propagate rounds, no training jobs — asserted through the
  * build/load telemetry, which increments `lake_load` and leaves
  * `build_persist` untouched); and the served content is
  * value-identical to the built one. `spark.catalog.clearCache()`
  * still cannot drop an artifact — it is parquet now, not a plan
  * cache — and executor loss cannot kill it, which localCheckpoint
  * handles could never promise.
  */
class ArtifactStoreSpec extends SparkSpec {

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def withTempRoot[T](f: => T): T = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_artstore").toString
    ArtifactStore.rootOverride = Some(tmp)
    try f
    finally {
      ArtifactStore.rootOverride = None
      Artifacts.clear(spark)
    }
  }

  test("cluster map: session A builds ONE lake commit; a fresh " +
    "session reads it back value-identical with zero rebuild") {
    withTempRoot {
      Artifacts.clear(spark, sf)
      val persists0 = Artifacts.countOf("dedup.clusterMap", "build_persist")
      val loads0 = ArtifactStore.loads("dedup.clusterMap")
      val a = operators.Dedup.clusterMap(spark, sf)
      val rows = sorted(a)
      assert(rows.nonEmpty)
      assert(Artifacts.countOf("dedup.clusterMap", "build_persist")
        === persists0 + 1, "the build must commit to the lake")
      // a FRESH session (new in-memory artifact identity): the lake,
      // not the propagate pipeline, must answer
      val s2 = spark.newSession()
      val b = operators.Dedup.clusterMap(s2, sf)
      assert(ArtifactStore.loads("dedup.clusterMap") === loads0 + 1,
        "fresh session must be served from the lake")
      assert(Artifacts.countOf("dedup.clusterMap", "build_persist")
        === persists0 + 1, "fresh session must NOT rebuild")
      assert(sorted(b) === rows, "lake round-trip must be exact")
      Artifacts.clear(s2)
    }
  }

  test("trained models (IVF codebook, BPE merges) round-trip the " +
    "lake bit-identically, priority order preserved") {
    withTempRoot {
      Artifacts.clear(spark, sf)
      val cb = operators.Similarity.ivfCodebook(spark, sf)
      val merges = operators.TextAnalysis.bpeMergeTable(spark, sf)
      assert(ArtifactStore.saves("similarity.ivfCodebook") >= 1)
      val s2 = spark.newSession()
      val cb2 = operators.Similarity.ivfCodebook(s2, sf)
      val merges2 = operators.TextAnalysis.bpeMergeTable(s2, sf)
      assert(cb2.map(_._1).toSeq === cb.map(_._1).toSeq)
      assert(cb2.map(_._2.toSeq).toSeq === cb.map(_._2.toSeq).toSeq,
        "centroid micro-vectors must round-trip exactly")
      assert(merges2.toSeq === merges.toSeq,
        "merge table must round-trip in learned priority order")
      assert(Artifacts.countOf("similarity.ivfCodebook", "lake_load") >= 1)
      Artifacts.clear(s2)
    }
  }

  test("clearCache() cannot drop a lake-resident artifact; a new " +
    "consumer still reads it without rebuilding") {
    withTempRoot {
      Artifacts.clear(spark, sf)
      val rows = sorted(operators.TextAnalysis.fpIndex(spark, sf))
      val persists = Artifacts.countOf("text.fpIndex", "build_persist")
      spark.catalog.clearCache()
      val s2 = spark.newSession()
      s2.catalog.clearCache()
      assert(sorted(operators.TextAnalysis.fpIndex(s2, sf)) === rows)
      assert(Artifacts.countOf("text.fpIndex", "build_persist")
        === persists, "clearCache must not force a rebuild")
      Artifacts.clear(s2)
    }
  }

  test("persistence off ('off' root): artifacts degrade to the " +
    "session-local eager handle and still serve consumers") {
    ArtifactStore.rootOverride = Some("off")
    try {
      Artifacts.clear(spark, sf)
      assert(!ArtifactStore.enabled)
      val a = operators.Dedup.clusterMap(spark, sf)
      val b = operators.Dedup.clusterMap(spark, sf)
      assert(a eq b, "in-memory handle still shared while live")
      assert(a.count() > 0)
    } finally {
      ArtifactStore.rootOverride = None
      Artifacts.clear(spark)
    }
  }

  test("vacuum: artifact tables expire by their own commit stamp; " +
    "a fresh consumer then rebuilds and re-persists") {
    withTempRoot {
      Artifacts.clear(spark, sf)
      val rows = sorted(operators.TextAnalysis.fpIndex(spark, sf))
      val persists = Artifacts.countOf("text.fpIndex", "build_persist")
      // an epoch cutoff expires nothing: every live table is younger
      assert(ArtifactStore.vacuum(spark, 0L) === Nil)
      val s2 = spark.newSession()
      assert(sorted(operators.TextAnalysis.fpIndex(s2, sf)) === rows)
      assert(Artifacts.countOf("text.fpIndex", "build_persist")
        === persists, "post-vacuum(0) reads must still be lake loads")
      // a future cutoff expires everything committed so far
      val deleted = ArtifactStore.vacuum(spark,
        System.currentTimeMillis() + 60000)
      assert(deleted.exists(_.contains("text.fpIndex")),
        s"expected the fpIndex table among $deleted")
      // a fresh consumer rebuilds and re-persists, value-identical
      val s3 = spark.newSession()
      assert(sorted(operators.TextAnalysis.fpIndex(s3, sf)) === rows)
      assert(Artifacts.countOf("text.fpIndex", "build_persist")
        === persists + 1, "vacuumed artifact must rebuild on demand")
      Artifacts.clear(s2); Artifacts.clear(s3)
    }
  }

  test("two sessions racing the same build: exactly one commit wins, " +
    "both read identical rows (create-exclusive manifest claim)") {
    withTempRoot {
      // two genuinely concurrent materializations of the same
      // (family, corpus): each racer builds into its own `.build-*`
      // sibling and tries to claim the address with one rename; a
      // loser finds the address taken, deletes its own build and
      // reads the winner's table — never a duplicate commit, never a
      // crash, never a stranded build dir. Builds are deterministic,
      // so either interleaving (loser-reads-winner, or
      // second-call-sees-existing) yields byte-identical rows.
      import spark.implicits._
      val corpus = java.nio.file.Files
        .createTempDirectory("graft_race_corpus").toString
      (1L to 50L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$corpus/marker.parquet")
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
      val errors =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = (0 until 4).map { i =>
        val t = new Thread(() => {
          try {
            gate.await()
            val s = spark.newSession()
            val df = ArtifactStore.materialize(s, "race.family", corpus) {
              val sp = s; import sp.implicits._
              (1L to 20L).map(k => (k, k * 7L)).toDF("k", "v")
            }
            results.add(df.collect().map(_.toString).toSeq.sorted)
          } catch { case e: Throwable => errors.add(e) }
        })
        t.start(); t
      }
      gate.countDown()
      threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"racing builds must not throw: $errors")
      val all = results.toArray(Array.empty[Seq[String]])
      assert(all.length === 4)
      assert(all.distinct.length === 1,
        "all racers must observe identical artifact rows")
      // exactly one commit on disk: the table has a single v0 and no
      // stranded second manifest
      val dir = ArtifactStore.tableDir(spark, "race.family", corpus)
      val mf = new java.io.File(s"$dir/_manifest").listFiles()
        .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
      assert(mf === Seq("v0.json"),
        s"expected exactly one committed version, found $mf")
      val d = new java.io.File(dir)
      val stranded = d.getParentFile.listFiles().map(_.getName)
        .filter(_.startsWith(d.getName + ".build-")).toSeq
      assert(stranded.isEmpty, s"losing builds left behind: $stranded")
    }
  }

  private def tempCorpus(): String = {
    import spark.implicits._
    val corpus = java.nio.file.Files
      .createTempDirectory("graft_art_corpus").toString
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpus/marker.parquet")
    corpus
  }

  test("EMPTY build persists like any artifact: a fresh session is " +
    "served the empty relation from the lake — the address is never " +
    "poisoned (r13 advice, high)") {
    withTempRoot {
      import spark.implicits._
      val corpus = tempCorpus()
      val a = ArtifactStore.materialize(spark, "empty.family", corpus) {
        Seq.empty[(Long, Long)].toDF("k", "v")
      }
      assert(a.columns.toSeq === Seq("k", "v"))
      assert(a.count() === 0)
      // a FRESH session must read the committed empty table — a
      // rebuild here would throw and fail the test (the old behavior
      // was worse: loadIt() crashed on the zero-partition manifest
      // for every later session until the dir was hand-deleted)
      val s2 = spark.newSession()
      val b = ArtifactStore.materialize(s2, "empty.family", corpus) {
        sys.error("fresh session must not rebuild a committed " +
          "empty artifact"): DataFrame
      }
      assert(b.columns.toSeq === Seq("k", "v"))
      assert(b.count() === 0)
    }
  }

  test("a committed table whose DATA is unreadable is quarantined " +
    "and rebuilt instead of crashing every fresh session") {
    withTempRoot {
      val corpus = tempCorpus()
      var builds = 0
      def build(s: org.apache.spark.sql.SparkSession): DataFrame = {
        builds += 1
        val sp = s; import sp.implicits._
        (1L to 5L).map(k => (k, k * 3L)).toDF("k", "v")
      }
      val a = ArtifactStore.materialize(spark, "poison.family", corpus)(
        build(spark))
      assert(builds === 1)
      val expect = sorted(a)
      // wreck the data files but keep the manifest claiming them —
      // the torn state a partial vacuum or a botched copy leaves
      val dir = new java.io.File(
        ArtifactStore.tableDir(spark, "poison.family", corpus))
      dir.listFiles().filter(_.getName != "_manifest").foreach { c =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(c)
      }
      val s2 = spark.newSession()
      val b = ArtifactStore.materialize(s2, "poison.family", corpus)(
        build(s2))
      assert(builds === 2, "unreadable committed table must rebuild")
      assert(sorted(b) === expect)
      // and the rebuild re-persisted: a third session lake-loads
      val s3 = spark.newSession()
      val c = ArtifactStore.materialize(s3, "poison.family", corpus)(
        build(s3))
      assert(builds === 2, "the quarantine rebuild must re-persist")
      assert(sorted(c) === expect)
    }
  }

  test("quarantine TOMBSTONES a corrupt dir (rename-aside), never " +
    "recursive-delete (r14 advice, medium)") {
    withTempRoot {
      val corpus = tempCorpus()
      var builds = 0
      def build(s: org.apache.spark.sql.SparkSession): DataFrame = {
        builds += 1
        val sp = s; import sp.implicits._
        Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
      }
      ArtifactStore.materialize(spark, "tomb.family", corpus)(build(spark))
      val dir = new java.io.File(
        ArtifactStore.tableDir(spark, "tomb.family", corpus))
      // corrupt the MANIFEST (unparseable JSON) — the other corruption
      // signature next to the missing-data-file case above
      val v0 = new java.io.File(dir, "_manifest/v0.json")
      java.nio.file.Files.write(v0.toPath,
        "{ not json".getBytes("UTF-8"))
      val s2 = spark.newSession()
      val b = ArtifactStore.materialize(s2, "tomb.family", corpus)(
        build(s2))
      assert(builds === 2, "corrupt manifest must rebuild")
      assert(sorted(b) === Seq("[1,2]", "[3,4]"))
      // the wrecked dir was renamed aside, not destroyed: its bytes
      // survive for post-mortem under a .tombstone-* sibling
      val tombs = dir.getParentFile.listFiles()
        .filter(_.getName.startsWith(dir.getName + ".tombstone-"))
      assert(tombs.length === 1,
        s"expected one tombstone next to ${dir.getName}")
      assert(new java.io.File(tombs.head, "_manifest/v0.json").exists,
        "tombstone must carry the original bytes")
    }
  }

  test("a TRANSIENT load failure must NOT destroy a committed shared " +
    "table: only corruption-specific signals quarantine (r14 advice, " +
    "medium)") {
    withTempRoot {
      val corpus = tempCorpus()
      var builds = 0
      def build(s: org.apache.spark.sql.SparkSession): DataFrame = {
        builds += 1
        val sp = s; import sp.implicits._
        Seq((7L, 8L)).toDF("k", "v")
      }
      ArtifactStore.materialize(spark, "trans.family", corpus)(build(spark))
      val dir = new java.io.File(
        ArtifactStore.tableDir(spark, "trans.family", corpus))
      val v0 = new java.io.File(dir, "_manifest/v0.json")
      val bytes = java.nio.file.Files.readAllBytes(v0.toPath)
      // make the manifest UNOPENABLE without being unparseable — a
      // stand-in for the permission blip / FS hiccup class: replace
      // the file with a same-named directory so open() throws IO
      assert(v0.delete())
      assert(v0.mkdir())
      val s2 = spark.newSession()
      intercept[Exception] {
        ArtifactStore.materialize(s2, "trans.family", corpus)(build(s2))
      }
      // the table dir is still in place — no delete, no tombstone
      assert(dir.exists, "transient failure must not remove the dir")
      assert(dir.getParentFile.listFiles()
        .forall(!_.getName.contains(".tombstone-")),
        "transient failure must not tombstone")
      // repair the manifest: a later session loads with ZERO rebuild —
      // the cache survived the blip
      assert(v0.delete())
      java.nio.file.Files.write(v0.toPath, bytes)
      val buildsBefore = builds
      val s3 = spark.newSession()
      val c = ArtifactStore.materialize(s3, "trans.family", corpus)(
        build(s3))
      assert(builds === buildsBefore,
        "recovered table must serve from the lake, not rebuild")
      assert(sorted(c) === Seq("[7,8]"))
    }
  }

  test("vacuum age-gates UNSTAMPED dirs by mtime: a fresh in-flight " +
    "build (data landed, manifest not yet committed) survives " +
    "retention (r13 advice, low)") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_vac_gate").toString
    ArtifactStore.rootOverride = Some(tmp)
    try {
      val inflight = new java.io.File(s"$tmp/fam/abc123")
      assert(inflight.mkdirs())
      assert(new java.io.File(inflight, "part-0.parquet").createNewFile())
      // a cutoff in the past: the fresh uncommitted dir must SURVIVE
      // (the old unconditional delete raced in-flight builds)
      assert(ArtifactStore.vacuum(spark,
        System.currentTimeMillis() - 3600000) === Nil)
      assert(inflight.exists())
      // a cutoff in the future: now it is expired torn garbage
      val deleted = ArtifactStore.vacuum(spark,
        System.currentTimeMillis() + 3600000)
      assert(deleted.exists(_.contains("abc123")))
      assert(!inflight.exists())
    } finally {
      ArtifactStore.rootOverride = None
      Artifacts.clear(spark)
    }
  }

  test("an artifact root that is a regular FILE cannot hold tables: " +
    "all three entry points build session-local, record `build` and " +
    "commit nothing") {
    val root = java.nio.file.Files.createTempFile("graft_artroot", "")
    ArtifactStore.rootOverride = Some(root.toString)
    try {
      import spark.implicits._
      val corpus = tempCorpus()
      val fams = Seq("file.df", "file.value", "file.dir")
      def builds(fam: String) = Artifacts.countOf(fam, "build")
      val b0 = fams.map(builds)
      val s0 = fams.map(ArtifactStore.saves)
      val df = ArtifactStore.materialize(spark, "file.df", corpus) {
        Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
      }
      assert(sorted(df) === Seq("[1,2]", "[3,4]"))
      val v = ArtifactStore.materializeValue(spark, "file.value", corpus)(
        Seq(5L, 6L))
      assert(v === Seq(5L, 6L))
      val dir = ArtifactStore.materializeDir(spark, "file.dir", corpus) {
        tmp =>
          sources.LakeMerge.init(spark, tmp, Seq(("a", 1L, 0L))
            .toDF("dt", "k", "o"), "dt", "k", "o"); ()
      }
      assert(sources.LakeMerge.read(spark, dir)
        .select("k").as[Long].collect().toSeq === Seq(1L))
      assert(fams.map(builds) === b0.map(_ + 1),
        "each fallback must record one `build` event")
      assert(fams.map(ArtifactStore.saves) === s0,
        "nothing can be committed under a file root")
      assert(root.toFile.isFile && root.toFile.length === 0,
        "the root file must be left as it was")
      val stranded = root.getParent.toFile.listFiles().map(_.getName)
        .filter(n => n.startsWith(root.getFileName.toString) &&
          n.contains(".build-")).toSeq
      assert(stranded.isEmpty, s"build dirs left behind: $stranded")
    } finally {
      ArtifactStore.rootOverride = None
      Artifacts.clear(spark)
      java.nio.file.Files.deleteIfExists(root)
    }
  }

  test("corpus fingerprint addressing: two corpora never share an " +
    "artifact table") {
    withTempRoot {
      val d1 = ArtifactStore.tableDir(spark, "dedup.clusterMap", sf)
      val d2 = ArtifactStore.tableDir(spark, "dedup.clusterMap",
        "/root/testdata/sf0.01")
      assert(d1 !== d2)
      val d3 = ArtifactStore.tableDir(spark, "dedup.gramIndex", sf)
      assert(d1 !== d3, "families are separate tables")
    }
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.GraftListenerBridge.drain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("job budget: a fresh session loads a value artifact with no " +
    "Spark job, and a relation artifact with none before the " +
    "consumer's own action") {
    withTempRoot {
      import spark.implicits._
      val corpus = tempCorpus()
      val cb = Array((0L, Array(1L, 2L)), (1L, Array(3L, 4L)))
      ArtifactStore.materializeValue(spark, "budget.value", corpus)(cb)
      ArtifactStore.materialize(spark, "budget.df", corpus)(
        (1L to 20L).map(k => (k, k * 7L)).toDF("k", "v"))
      val s2 = spark.newSession()
      val (v, valueJobs) = jobsDuring(
        ArtifactStore.materializeValue(s2, "budget.value", corpus)(
          sys.error("a stored value must not rebuild")
            : Array[(Long, Array[Long])]))
      assert(valueJobs === 0, "a value load must run no Spark job")
      assert(v.map(c => (c._1, c._2.toSeq)).toSeq ===
        cb.map(c => (c._1, c._2.toSeq)).toSeq)
      val (df, loadJobs) = jobsDuring(
        ArtifactStore.materialize(s2, "budget.df", corpus)(
          sys.error("a stored relation must not rebuild"): DataFrame))
      assert(loadJobs === 0,
        "a relation load must run no job before the consumer's action")
      assert(df.count() === 20)
      assert(Seq("budget.value", "budget.df").map(Artifacts.countOf(_,
        "lake_load")) === Seq(1, 1))
    }
  }

  test("every value shape the engine stores passes the class " +
    "allowlist: a fresh session reads each back without rebuilding") {
    withTempRoot {
      val corpus = tempCorpus()
      def arr(n: Int) = Array.tabulate(n)(i => (i.toLong, Array(i.toLong, -i.toLong)))
      // codebooks, the two-level codebook, SQ8 and BM25 pairs, small
      // and hash-backed bound maps, BPE merges, the LM mean
      val shapes: Seq[(String, Any)] = Seq(
        "codebook" -> arr(3),
        "twoLevel" -> (arr(2), arr(4)),
        "sq8" -> (Array(1L, 2L), Array(3L, 4L)),
        "bm25" -> (7L, 9L),
        "smallMap" -> Map("a" -> Array(1L), "b" -> Array.empty[Long]),
        "hashMap" -> (1 to 9).map(i => s"c$i" -> Array(i.toLong)).toMap,
        "merges" -> Array(("a", "b"), ("ab", "c")),
        "mean" -> 42L)
      def show(v: Any): Any = v match {
        case a: Array[_] => a.toSeq.map(show)
        case p: Product => p.productIterator.map(show).toSeq
        case m: Map[_, _] => m.toSeq.map(show).sortBy(_.toString)
        case x => x
      }
      shapes.foreach { case (n, v) =>
        ArtifactStore.materializeValue(spark, s"shape.$n", corpus)(v) }
      val s2 = spark.newSession()
      shapes.foreach { case (n, v) =>
        val back = ArtifactStore.materializeValue(s2, s"shape.$n", corpus)(
          sys.error(s"stored $n must not rebuild"): Any)
        assert(show(back) === show(v), s"$n must round-trip")
      }
      assert(shapes.map(p => Artifacts.countOf(s"shape.${p._1}",
        "lake_load")) === shapes.map(_ => 1))
    }
  }

  test("a planted value file naming a class outside the allowlist is " +
    "refused unread, tombstoned and rebuilt") {
    withTempRoot {
      val corpus = tempCorpus()
      var builds = 0
      def build(): Array[(Long, Array[Long])] = {
        builds += 1; Array((1L, Array(2L, 3L)))
      }
      ArtifactStore.materializeValue(spark, "planted.value", corpus)(
        build())
      val dir = new java.io.File(
        ArtifactStore.tableDir(spark, "planted.value", corpus))
      // overwrite the one value file through the Hadoop FS, so its
      // checksum still matches: only the class allowlist stands
      // between the stream and the planted class's readObject
      val files = dir.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".")).toSeq
      assert(files.size === 1, s"one value file expected, found $files")
      val p = new org.apache.hadoop.fs.Path(files.head.toURI)
      val out = new java.io.ObjectOutputStream(p.getFileSystem(
        spark.sessionState.newHadoopConf()).create(p, true))
      try out.writeObject((1L, new ArtifactStoreSpec.Planted))
      finally out.close()
      ArtifactStoreSpec.plantedRan.set(false)
      val s2 = spark.newSession()
      val v = ArtifactStore.materializeValue(s2, "planted.value", corpus)(
        build())
      assert(!ArtifactStoreSpec.plantedRan.get,
        "the planted class's readObject must never run")
      assert(builds === 2, "a refused value file must rebuild")
      assert(v.map(_._2.toSeq).toSeq === Seq(Seq(2L, 3L)))
      val tombs = dir.getParentFile.listFiles()
        .filter(_.getName.startsWith(dir.getName + ".tombstone-"))
      assert(tombs.length === 1,
        s"expected one tombstone next to ${dir.getName}")
      // the rebuild re-persisted: a third session loads it
      val s3 = spark.newSession()
      ArtifactStore.materializeValue(s3, "planted.value", corpus)(build())
      assert(builds === 2, "the quarantine rebuild must re-persist")
    }
  }
}

object ArtifactStoreSpec {
  val plantedRan = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A Serializable class no value artifact is made of; reading one
    * runs its `readObject`, which marks that it ran.
    */
  final class Planted extends Serializable {
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      plantedRan.set(true)
      in.defaultReadObject()
    }
  }
}
