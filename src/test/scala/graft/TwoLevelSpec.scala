package graft

import org.apache.spark.sql.functions._

/** The r19 two-level residual quantizer (the graph family's path past
  * [[graft.operators.Similarity.KnnTwoLevelPast]] vectors), exercised
  * on the sf0.001 corpus by calling
  * [[graft.operators.Similarity.withTwoLevelCells]] directly — no
  * billion-row corpus needed to pin the algebra. Runs against a
  * throwaway artifact root so the small-corpus codebooks never
  * poison the shared store.
  */
class TwoLevelSpec extends SparkSpec {
  import graft.operators.Similarity

  test("two-level residual quantizer: sizing bound, assignment shape, " +
    "determinism, brute-force primary agreement, non-square trim") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_twolevel").toString
    graft.sources.ArtifactStore.rootOverride = Some(tmp)
    try {
      val emb = Tables.embeddings(spark, sf)
      val n = emb.count()
      assert(n > 100, "corpus must be big enough to train both levels")
      val (k1, k2) = Similarity.knnTwoLevelK(n)
      // the product codebook covers the occupancy target
      assert(k1.toLong * k2 * Similarity.MaxKnnCell >= n,
        s"k1=$k1 × k2=$k2 cells cannot hold $n vectors within cap")

      // ---- multi-assignment shape: a=4 → 4 DISTINCT in-range cells
      def cellsAt(a: Int): Map[Long, Seq[Long]] =
        Similarity.withTwoLevelCells(spark, sf, emb, a)
          .select("vec_id", "cell").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (v, cs) =>
            v -> cs.map(_._2).toSeq.sorted }
      val a4 = cellsAt(4)
      assert(a4.size === n, "every vector is assigned")
      assert(a4.values.forall(cs => cs.length == 4 &&
        cs.distinct.length == 4), "4 distinct cells per vector")
      assert(a4.values.flatten.forall(c =>
        c >= 0 && c < k1.toLong * k2), "cell ids in [0, k1·k2)")
      // determinism: a second derivation is identical
      assert(cellsAt(4) === a4, "assignment is a pure function")

      // ---- primary assignment agrees with brute-force MULTI-PROBE
      // two-level argmin recomputed from the collected codebooks
      // (r20: t = min(k1, max(⌈√a⌉, probe)) nearest tops, sPer
      // nearest subs per top, argmin by true quantizer distance
      // ‖rv − c2‖², ties to the smaller combined cell id)
      val (c1, c2) = Similarity.knnCodebook2(spark, sf)
      assert(c1.nonEmpty && c2.nonEmpty)
      val prim = cellsAt(1).map { case (v, cs) => v -> cs.head }
      val mv = emb.selectExpr("vec_id",
        """transform(embedding,
          |  x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS mv"""
          .stripMargin)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      def sq(a: Array[Long], b: Array[Long]): Long = {
        var d = 0L; var i = 0
        while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
        d
      }
      // brute candidate list for one vector at assignment width a:
      // every (true_dist, cell) the engine's probed superset holds —
      // r20: each probed top contributes its OWN local sub-codebook
      // (c2 keys are combined ids, top = cell / k2)
      def bruteCands(v: Array[Long], a: Int): Seq[(Long, Long)] = {
        val t = math.min(c1.length, math.max(
          math.ceil(math.sqrt(a.toDouble)).toInt,
          Similarity.knnTwoLevelProbe(k1)))
        val sPer = math.max((a + t - 1) / t, math.min(2, k2))
        c1.map { case (cid, cv) => (sq(v, cv), cid) }.sorted.take(t)
          .flatMap { case (_, top) =>
            val tcv = c1.find(_._1 == top).get._2
            val rv = v.zip(tcv).map { case (x, y) => x - y }
            c2.filter(_._1 / k2 == top)
              .map { case (cid, cv) => (sq(rv, cv), cid) }.sorted
              .take(sPer)
          }.toSeq
      }
      for ((id, v) <- mv) {
        val best = bruteCands(v, 1).min
        assert(prim(id) === best._2,
          s"vec $id: primary ${prim(id)} ≠ brute ${best._2}")
      }

      // ---- FULL probe = exhaustive: on this corpus the default
      // probe width already covers every surviving top, so the
      // primary is the TRUE argmin over every k1·k2 cell — pins the
      // cross-top ranking algebra (the true-distance trim)
      assert(Similarity.knnTwoLevelProbe(k1) >= c1.length,
        s"probe width ${Similarity.knnTwoLevelProbe(k1)} must cover " +
          s"all ${c1.length} tops for the exhaustive check")
      for ((id, v) <- mv) {
        val exhaustive = c1.flatMap { case (top, tcv) =>
          val rv = v.zip(tcv).map { case (x, y) => x - y }
          c2.filter(_._1 / k2 == top)
            .map { case (cid, cv) => (sq(rv, cv), cid) }
        }.min
        assert(prim(id) === exhaustive._2,
          s"vec $id: full-probe primary ${prim(id)} ≠ " +
            s"exhaustive argmin ${exhaustive._2}")
      }

      // ---- non-square a: the t·⌈a/t⌉ overshoot trims to exactly a
      // cells, a subset of the square superset
      val a3 = cellsAt(3)
      assert(a3.values.forall(_.length == 3), "exactly 3 cells at a=3")
      assert(a3.forall { case (v, cs) => cs.forall(a4(v).contains) },
        "the trimmed set is a subset of the a=4 assignment")
    } finally {
      graft.sources.ArtifactStore.rootOverride = None
      graft.Artifacts.clear(spark, sf)
    }
  }
}
