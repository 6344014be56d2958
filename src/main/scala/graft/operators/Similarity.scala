package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Similarity search over the embedding column (SURVEY §2 G).
  *
  * Brute-force cosine top-k is the correctness baseline: one broadcast
  * of the probe vector, a map-only scoring pass (higher-order array
  * functions — no UDF, stays in codegen), and a `limit` that Spark
  * executes as a tree-reduced TakeOrdered — no global sort, no
  * shuffle of the scored rows. That is exactly the 100 TB-safe shape;
  * the LSH/IVF variant (G2, round 2) prunes candidates before this
  * same kernel.
  *
  * Scores are emitted as integer micro-units (round(cos*1e6)): the
  * ~1e-14 cross-engine summation-order noise cannot move a value
  * across a 0.5e-6 rounding boundary, keeping the oracle hash-exact.
  */
object Similarity {

  /** Sequential-fold dot product in double precision. */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  val TopK = 20

  // ---------------------------------------------------------------- G1
  /** Top-k nearest to the vec_id=0 embedding, scored in micro-units,
    * ranked (score desc, vec_id) for a total deterministic order.
    */
  val sCosineTopk: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("label"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(TopK)
    },
    s"""WITH p AS (SELECT embedding AS probe FROM embeddings
       |           WHERE vec_id = 0),
       |sc AS (
       |  SELECT vec_id, label,
       |    CAST(round(1000000.0 *
       |      list_sum(list_transform(list_zip(embedding, probe),
       |        z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) /
       |      (sqrt(list_sum(list_transform(embedding,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |       sqrt(list_sum(list_transform(probe,
       |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS BIGINT)
       |      AS score_micro
       |  FROM embeddings, p WHERE vec_id <> 0)
       |SELECT vec_id, label, score_micro FROM sc
       |ORDER BY score_micro DESC, vec_id LIMIT $TopK""".stripMargin)

  /** Micro-unit cosine between two array columns. */
  def scoreMicro(a: Column, b: Column): Column =
    round(cosine(a, b) * 1000000.0).cast("long")

  /** The native fused kernel (graft.functions.CosineSim) — same
    * bit-exact arithmetic as `cosine`, one pass, zero allocations.
    */
  def nativeScoreMicro(s: SparkSession, a: String, b: String): Column = {
    graft.functions.CosineSim.register(s)
    round(expr(s"cosine_sim($a, $b)") * 1000000.0).cast("long")
  }

  private val scoreMicroSql: (String, String) => String = (a, b) =>
    s"""CAST(round(1000000.0 *
       |  list_sum(list_transform(list_zip($a, $b),
       |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) /
       |  (sqrt(list_sum(list_transform($a,
       |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |   sqrt(list_sum(list_transform($b,
       |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))) AS BIGINT)"""
      .stripMargin

  // --------------------------------------------------------- G2 setup
  /** Deterministic pseudo-random hyperplanes: `numPlanes` planes × 64
    * dims of integers in [-500, 500) from a Knuth-style multiplicative
    * mix — identical constants on both engines, zero RNG.
    *
    * `NumPlanes` is the DEFAULT, not a constant of the scheme: pass
    * [[planesFor]] of the corpus size to keep expected cell width flat
    * as the corpus grows (8 planes = 256 cells is right for thousands
    * of vectors, not billions).
    */
  val NumPlanes = 8
  val Dim = 64
  private def plane(j: Int): IndexedSeq[Long] =
    (0 until Dim).map(i => ((j * Dim + i) * 2654435761L % 1000) - 500)

  /** Plane count that keeps the EXPECTED quantizer cell width at or
    * under `targetCellWidth`: 2^planes cells ≥ corpus/target. Clamped
    * to [NumPlanes, 24] — 24 planes = 16.7M cells, enough for a
    * 17B-vector corpus at the default width. The cell-occupancy cap
    * ([[MaxCell]]) below still guards the skewed tail; this dial keeps
    * the AVERAGE cell from growing linearly with the corpus.
    */
  def planesFor(corpusSize: Long, targetCellWidth: Long = 1024L): Int = {
    val needed = math.ceil(math.log(
      (corpusSize.toDouble / targetCellWidth).max(1.0)) / math.log(2.0)).toInt
    math.min(24, math.max(NumPlanes, needed))
  }

  /** Cell-occupancy guard (precedent: [[Dedup.MaxBucket]], the same
    * fix for the same failure mode in the MinHash path): a quantizer
    * cell holding more vectors than this is degenerate — e.g. a
    * near-constant embedding cluster — and is skipped BEFORE any
    * within-cell join, so F6's pair count is bounded by maxCell² per
    * cell and G3/G5's per-probe candidate lists by maxCell, instead of
    * growing with corpus/2^planes. At the test SFs the densest cell
    * holds 62 vectors, so the default cap binds nothing here; at 100×
    * it is the difference between a bounded join and a quadratic
    * blowup on one hot cell.
    */
  val MaxCell = 64

  /** Embeddings tagged with their quantizer cell, degenerate cells
    * dropped. Callers feeding both sides of a self-join cache the
    * result so the plane dot products run once.
    *
    * `numPlanes <= 0` (the default) means [[planesFor]] of the actual
    * corpus size — one cheap count-star against the scan (parquet
    * footers; no column reads) buys a cell grid that keeps expected
    * occupancy flat at any corpus size. At the test SFs the adaptive
    * count resolves to the oracle's 8 planes, so results are
    * oracle-stable; a billion-row corpus gets 20 planes without the
    * caller doing anything.
    */
  private[graft] def cells(e: DataFrame, numPlanes: Int = 0,
      maxCell: Int = MaxCell): DataFrame = {
    val np = if (numPlanes > 0) numPlanes else planesFor(e.count())
    // occupancy via groupBy+join (Occupancy.attach), not a bucket-key
    // window: the hot cell the cap exists to drop must never be
    // funneled into one WindowExec task just to be counted. The plane
    // dot products run under both occupancy branches — consumers read
    // this through the materialized cellsIndex, so that is build-time
    val bucketed = e.withColumn("bucket", bucketOf(col("embedding"), np))
    Occupancy.attach(bucketed, Seq("bucket"), "cell_n")
      .filter(col("cell_n") <= maxCell)
      .drop("cell_n")
  }

  /** Materialized capped-cells handle, keyed per (session, corpus) —
    * the quantizer-cell assignment IS an index (the hyperplane
    * sibling of the IVF codebook's assigned cells): six queries
    * (F6/F14 near-dup + clustering, G2/G3/G4/G5 probes) consume the
    * same capped relation, and a production deployment lands it as a
    * lake table next to the vectors. Eagerly checkpointed — whichever
    * consumer runs first pays the plane dot products + occupancy
    * window, the rest read the handle.
    */
  private val cellsIndexCache =
    graft.Artifacts.cache[DataFrame]("similarity.cellsIndex")

  private[graft] def cellsIndex(s: SparkSession, dir: String): DataFrame =
    cellsIndexCache.getOrElseUpdate(s, dir)(
      graft.sources.ArtifactStore.materialize(s, "similarity.cellsIndex",
        dir)(cells(Tables.embeddings(s, dir))))

  private def cellsSql(maxCell: Int = MaxCell): String =
    s"""SELECT vec_id, label, embedding, bucket FROM (
       |  SELECT *, count(*) OVER (PARTITION BY bucket) AS cell_n
       |  FROM (SELECT vec_id, label, embedding,
       |        ${bucketOfSql("embedding")} AS bucket FROM embeddings))
       |WHERE cell_n <= $maxCell""".stripMargin

  /** Quantized embedding (round(x*10000) as int64) — sign decisions
    * become exact integer comparisons, immune to float summation
    * order.
    */
  private def quantized(v: Column): Column =
    transform(v, x => round(x.cast("double") * 10000).cast("long"))

  private val quantizedSql: String => String = v =>
    s"list_transform($v, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

  private[graft] def bucketOf(v: Column,
      numPlanes: Int = NumPlanes): Column = {
    val vq = quantized(v)
    (0 until numPlanes).map { j =>
      val r = array(plane(j).map(lit): _*)
      val dotj = aggregate(zip_with(vq, r, (x, y) => x * y), lit(0L),
        (acc, x) => acc + x)
      when(dotj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private def bucketOfSql(v: String,
      numPlanes: Int = NumPlanes): String = {
    val vq = quantizedSql(v)
    // CAST: DuckDB types the CASE-sum INTEGER; Spark's bucketOf is
    // long — the driver hash is type-sensitive (parity TYPEFAIL)
    (0 until numPlanes).map { j =>
      val r = plane(j).mkString("[", ", ", "]")
      s"""(CASE WHEN list_sum(list_transform(list_zip($vq, $r),
         |  z -> z[1] * z[2])) > 0 THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString("CAST((", " + ", ") AS BIGINT)")
  }

  // ---------------------------------------------------------------- F6
  /** Embedding-cosine near-dup pairs, blocked on the G2 hyperplane
    * bucket — a REAL coarse quantizer (r1 used `label`, which is
    * O(n²/k) on low-cardinality labels at scale). Only same-bucket
    * pairs are scored, and degenerate cells are skipped first
    * ([[MaxCell]]), so the pair count tracks near-dup density with a
    * hard per-cell bound instead of corpus². Threshold 0.35 in
    * micro-units. The capped relation is cached: it feeds both
    * self-join sides, so the plane dot products run once.
    */
  val EmbedDupMinMicro = 350000L

  /** The F6 near-dup pair relation (vec_a < vec_b, same capped cell,
    * cosine ≥ threshold) — shared by F6's report and F14's clustering.
    */
  private def embedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val e = cellsIndex(s, dir)
    val a = e.select(col("vec_id").as("vec_a"), col("bucket"),
      col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("bucket"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("score_micro", nativeScoreMicro(s, "emb_a", "emb_b"))
      .filter(col("score_micro") >= EmbedDupMinMicro)
      .select(col("vec_a"), col("vec_b"), col("bucket"), col("score_micro"))
  }

  val dEmbedDup: Q = Q(
    (s, dir) => embedDupPairs(s, dir).orderBy("vec_a", "vec_b"),
    s"""WITH e AS (${cellsSql()})
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       |  ${scoreMicroSql("a.embedding", "b.embedding")} AS score_micro
       |FROM e a JOIN e b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${scoreMicroSql("a.embedding", "b.embedding")} >= 350000
       |ORDER BY vec_a, vec_b""".stripMargin)

  // ---------------------------------------------------------------- G2
  /** ANN via random-hyperplane LSH: score only the probe's bucket
    * (~1/2^planes of the data), then exact cosine top-10 within it.
    * The scale path next to G1's brute force. Runs over the same
    * capped cells as F6/G3/G5: a probe landing in a degenerate cell
    * gets no candidates instead of scanning corpus/2^planes vectors —
    * the bounded-candidate-list contract of an IVF probe.
    */
  val sAnnLsh: Q = Q(
    (s, dir) => {
      val e = cellsIndex(s, dir)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("bucket").as("pbucket"))
      e.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), col("bucket") === col("pbucket"))
        .select(col("vec_id"), col("label"), col("bucket"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH e AS (${cellsSql()}),
       |p AS (SELECT embedding AS probe, bucket AS pbucket FROM e
       |      WHERE vec_id = 0)
       |SELECT vec_id, label, bucket,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM e, p WHERE vec_id <> 0 AND bucket = pbucket
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- G4
  /** Multi-probe ANN: G2 scores only the probe's own bucket, which
    * caps recall when a true neighbor lands just across one
    * hyperplane. Multi-probe widens the search to every bucket within
    * Hamming distance 1 of the probe signature (9 of 256 cells —
    * flipping the one least-confident sign each time), the standard
    * recall/cost dial for hyperplane LSH. `bit_count(bucket XOR
    * probe_bucket) <= 1` is the whole candidate filter — integer ops,
    * identical on both engines; candidates then go through the exact
    * cosine kernel and TakeOrdered like G1/G2. Capped cells as in G2:
    * each of the probed cells contributes at most MaxCell candidates.
    */
  val sAnnMultiprobe: Q = Q(
    (s, dir) => {
      val e = cellsIndex(s, dir)
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("bucket").as("pbucket"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .filter(expr("bit_count(bucket ^ pbucket) <= 1"))
        .select(col("vec_id"), col("label"), col("bucket"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH e AS (${cellsSql()}),
       |p AS (SELECT embedding AS probe, bucket AS pbucket FROM e
       |      WHERE vec_id = 0)
       |SELECT vec_id, label, bucket,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM e, p WHERE vec_id <> 0
       |  AND bit_count(xor(bucket, pbucket)) <= 1
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- G3
  /** k-NN join: for each probe (every 50th vector), its 3 nearest
    * neighbors within the probe's hyperplane bucket (the G2 coarse
    * quantizer cell — r1 blocked on `label`). Probes shuffle only to
    * their own cell; the per-query TakeOrdered is the window rank.
    * Degenerate cells are skipped first ([[MaxCell]]), bounding every
    * probe's candidate list by the cap instead of corpus/2^planes.
    */
  val sKnnJoin: Q = Q(
    (s, dir) => {
      val e = cellsIndex(s, dir)
      val probes = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("bucket"),
          col("embedding").as("emb_q"))
      val cands = e.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("embedding").as("emb_c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score_micro").desc, col("neighbor_id"))
      probes.join(cands, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score_micro", nativeScoreMicro(s, "emb_q", "emb_c"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("score_micro"))
        .orderBy("query_id", "rank")
    },
    s"""WITH e AS (${cellsSql()})
       |SELECT query_id, neighbor_id, rank, score_micro FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${scoreMicroSql("a.embedding", "b.embedding")} AS score_micro,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${scoreMicroSql("a.embedding", "b.embedding")} DESC,
       |        b.vec_id) AS BIGINT) AS rank
       |  FROM e a JOIN e b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 50 = 0)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  // ---------------------------------------------------------------- G5
  /** G3's k-NN join re-expressed with the typed bounded-heap
    * aggregator (`graft.functions.TopKAgg`): groupByKey + agg instead
    * of window rank. The window form sorts EVERY candidate per query
    * before dropping all but 3; the aggregator's partial aggregation
    * trims to 3 map-side, so only 3 rows per (partition, query) cross
    * the shuffle and no full per-key sort happens. Same order
    * semantics (score desc, id asc) and the same capped cells ⇒ same
    * oracle as G3.
    */
  val sKnnTopkAgg: Q = Q(
    (s, dir) => {
      import s.implicits._
      import graft.functions.{Scored, TopKAgg}
      val e = cellsIndex(s, dir)
      val probes = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("bucket"),
          col("embedding").as("emb_q"))
      val cands = e.select(col("vec_id").as("neighbor_id"), col("bucket"),
        col("embedding").as("emb_c"))
      val scored = probes.join(cands, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score_micro", nativeScoreMicro(s, "emb_q", "emb_c"))
        .select(col("query_id"), col("neighbor_id"), col("score_micro"))
        .as[(Long, Long, Long)]
      scored.groupByKey(_._1)
        .mapValues { case (_, id, sc) => Scored(id, sc) }
        .agg(new TopKAgg(3).toColumn.name("topk"))
        .toDF("query_id", "topk")
        .select(col("query_id"), posexplode(col("topk")))
        .select(col("query_id"), col("col.id").as("neighbor_id"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.score").as("score_micro"))
        .orderBy("query_id", "rank")
    },
    // identical semantics to G3 ⇒ identical oracle text
    s"""WITH e AS (${cellsSql()})
       |SELECT query_id, neighbor_id, rank, score_micro FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${scoreMicroSql("a.embedding", "b.embedding")} AS score_micro,
       |    CAST(row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY ${scoreMicroSql("a.embedding", "b.embedding")} DESC,
       |        b.vec_id) AS BIGINT) AS rank
       |  FROM e a JOIN e b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id % 50 = 0)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  // ---------------------------------------------------------------- G7
  /** IVF ANN — the learned-coarse-quantizer sibling of G2's hyperplane
    * cells: G6's per-label centroids are the codebook, every vector is
    * assigned to its nearest centroid by EXACT integer squared-L2 on
    * micro units, and the probe scans only its own cell (~1/k of the
    * corpus). The codebook is tiny (k·dim longs) whatever the corpus
    * size, so it is collected once and shipped inside the assignment
    * expression — the IVF train-then-ship shape: assignment is
    * map-only (no join, no shuffle; an argmin over an array of
    * (dist, label) structs), and the only wide op is the final
    * TakeOrdered. All-integer assignment means the cell partition is
    * bit-identical on both engines; the cosine rerank uses the same
    * micro-unit kernel as G1.
    */
  /** Trained-codebook handle, keyed per (session, corpus) — the same
    * materialized-artifact stance as [[Dedup.clusterMap]]: a deployed
    * IVF index trains its coarse quantizer ONCE and ships the codebook
    * with the index; retraining per query would re-aggregate the whole
    * corpus on every probe. The handle is k·dim longs of driver memory
    * whatever the corpus size, and `spark.catalog.clearCache()` does
    * not (and should not) drop it — it is a training artifact, not a
    * plan cache.
    */
  private val codebookCache =
    graft.Artifacts.cache[Array[(Long, Array[Long])]]("similarity.ivfCodebook")

  /** A codebook as a (cell, centroid) relation, for joins. */
  private def codebookToDf(s: SparkSession)(
      v: Array[(Long, Array[Long])]): DataFrame = {
    val sp = s; import sp.implicits._
    v.toSeq.toDF("cell", "centroid")
  }

  /** Train the IVF codebook: the G6 aggregation, collected to the
    * driver as (label, centroid-micro-vector) pairs. k·dim longs
    * whatever the corpus size — the train-then-ship half of IVF.
    */
  private[graft] def ivfCodebook(s: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    codebookCache.getOrElseUpdate(s, dir)(
      graft.sources.ArtifactStore.materializeValue(s,
        "similarity.ivfCodebook", dir)(trainCodebook(s, dir)))

  /** The IVF cell assignment as a map-only per-row expression over
    * `embedding` under a FIXED trained codebook — what index
    * MAINTENANCE runs: vectors arriving after training (a stream, a
    * new batch) join their cells with zero shuffle and zero state,
    * no retraining. Spec-pinned identical to the batch argmin.
    */
  private[graft] def ivfCellCol(codebook: Array[(Long, Array[Long])])
      : Column =
    array_min(ivfCells(codebook)).getField("cell")

  private def trainCodebook(s: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(floor(sum(round(col("x").cast("double") * 1e6).cast("long"))
        .cast("double") / count(lit(1))).cast("long").as("c"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"), col("c"))))
        .as("cvec"))
      .collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue(),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toArray))
      .sortBy(_._1)

  /** The shipped codebook as a pure expression: an array of
    * (squared-L2-micro, cell) structs over `embedding` — argmin /
    * ordered-prefix over it is the IVF assignment, map-only (no join,
    * no shuffle; struct comparison breaks dist ties by cell id, so
    * assignment is deterministic and engine-identical).
    */
  private[graft] def ivfCells(codebook: Array[(Long, Array[Long])]): Column =
    // native fused kernel (graft.functions.IvfCells): the composed
    // k-unrolled HOF form cost ~1.6 ms/row interpreted once the r15
    // √n codebook landed (k=64: measured whole seconds per consumer
    // query at sf0.1); the expression is two primitive loops with
    // bit-identical arithmetic — same quantization (Round HALF_UP +
    // truncating cast), same Long fold order, same codebook order and
    // tie semantics. O(1) plan-tree size at any k.
    graft.functions.IvfCells.cells(col("embedding"), codebook)

  /** DuckDB twin of the codebook + assignment: centroid CTE (G6's
    * arithmetic) and every vector's centroids ranked by exact integer
    * squared-L2 then cell id — rn = 1 is the argmin assignment, rn ≤
    * nprobe the probe's cell list. Shared by the G7/G8 oracles.
    */
  private val ivfRankedCteSql: String =
    """cent AS (
      |  SELECT label AS clabel, list(c ORDER BY pos) AS cvec FROM (
      |    SELECT label, pos,
      |      CAST(floor(CAST(sum(x_micro) AS DOUBLE) / count(*)) AS BIGINT)
      |        AS c
      |    FROM (
      |      SELECT label,
      |        generate_subscripts(embedding, 1) - 1 AS pos,
      |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
      |          AS BIGINT) AS x_micro
      |      FROM embeddings)
      |    GROUP BY label, pos)
      |  GROUP BY label),
      |ranked AS (
      |  SELECT q.vec_id, q.label, q.embedding,
      |    CAST(c.clabel AS BIGINT) AS cell,
      |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |      list_sum(list_transform(
      |        list_zip(list_transform(q.embedding,
      |          x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)),
      |          c.cvec),
      |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.clabel) AS rn
      |  FROM embeddings q CROSS JOIN cent c)""".stripMargin

  val sAnnIvf: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val assigned = emb.withColumn("cell",
        ivfCellCol(ivfCodebook(s, dir)))
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("cell").as("pcell"))
      // fan REMOVED (r21): with the encode kernels compiled
      // (IvfCells/PqRecon/Sq8Recon/SqDistL2), per-row cost is sub-µs
      // and the r20 fan's 32-task exchange of raw embeddings COST more
      // than it saved at every SF (the r20 sf1 +2.0 s residual, and
      // ~60-100 ms/task fixed cost × 32 at sf0.1); a wide corpus scan
      // is already parallel without it
      emb.filter(col("vec_id") =!= 0)
        .withColumn("cell", ivfCellCol(ivfCodebook(s, dir)))
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH $ivfRankedCteSql,
       |assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (SELECT embedding AS probe, cell AS pcell FROM ranked
       |      WHERE vec_id = 0 AND rn = 1)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM assigned, p WHERE vec_id <> 0 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- G8
  /** IVF with multi-cell probing (nprobe > 1) — the recall dial every
    * production IVF exposes. Data vectors keep G7's map-only argmin
    * assignment; the probe (one row) ranks the full codebook and scans
    * its [[NProbe]] nearest cells. The probe's cells are EXPLODED into
    * (pcell, probe) rows so the candidate fetch stays a broadcast
    * EQUI-join — nprobe tiny rows hash-joined against the corpus scan,
    * not a nested-loop membership test over an array. Candidates at
    * nprobe=2 are a superset of nprobe=1's and the rerank is the exact
    * cosine kernel, so recall@k is monotonically ≥ the single-probe
    * form (spec-pinned in QueriesSpec).
    */
  val NProbe = 2
  val sAnnIvfProbe: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cells = ivfCells(ivfCodebook(s, dir))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"),
          explode(transform(slice(array_sort(cells), 1, NProbe),
            c => c.getField("cell"))).as("pcell"))
      // fan removed (r21) — see sAnnIvf
      emb.filter(col("vec_id") =!= 0)
        .withColumn("cell", array_min(cells).getField("cell"))
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH $ivfRankedCteSql,
       |assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (SELECT embedding AS probe, cell AS pcell FROM ranked
       |      WHERE vec_id = 0 AND rn <= $NProbe)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM assigned, p WHERE vec_id <> 0 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G17
  /** FILTERED ANN — vector search under a metadata predicate, the
    * second-most-requested operation of any production vector store
    * (RAG "search within this tenant/label/date-range"). Pre-filter
    * strategy, the right call when the predicate is selective and
    * pushable: the predicate lands on the SCAN (Catalyst pushes it
    * beside the IVF cell equi-join, so a partitioned corpus prunes
    * files before any distance math), candidates = probed cells ∩
    * predicate, and the exact kernel ranks what survives. The probe
    * widens to [[NProbe]] cells exactly because filtering thins each
    * cell — the nprobe dial is how filtered recall is bought back
    * (post-filtering a fixed top-k instead would return < k rows on
    * any selective predicate). Same broadcast-equi-join shape as G8;
    * the predicate here (odd label) stands in for any pushable
    * metadata condition.
    */
  val sAnnFiltered: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cells = ivfCells(ivfCodebook(s, dir))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"),
          explode(transform(slice(array_sort(cells), 1, NProbe),
            c => c.getField("cell"))).as("pcell"))
      // fan removed (r21) — see sAnnIvf
      emb.filter(col("vec_id") =!= 0)
        .withColumn("cell", array_min(cells).getField("cell"))
        .filter(col("label") % 2 === 1)
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH $ivfRankedCteSql,
       |assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (SELECT embedding AS probe, cell AS pcell FROM ranked
       |      WHERE vec_id = 0 AND rn <= $NProbe)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM assigned, p
       |WHERE vec_id <> 0 AND label % 2 = 1 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // ---------------------------------------------------------------- F14
  /** Semantic (embedding-space) dedup clustering — the SemDeDup shape:
    * connected components over the F6 cosine near-dup pairs, so
    * paraphrase/re-encode duplicates that share no literal n-grams
    * still collapse into one cluster with a canonical (min vec_id)
    * representative. Reuses [[Dedup.propagate]] — the bounded
    * min-label propagation with per-round eager checkpoints and
    * converge-early exit — over edges from the capped quantizer
    * cells, so both the pair generation AND the clustering carry the
    * same per-cell bounds as F6 (pair count tracks near-dup density,
    * never corpus²). The oracle runs the same fixed-round propagation
    * as F8's.
    */
  val dEmbedClusters: Q = Q(
    (s, dir) => {
      val p = embedDupPairs(s, dir).select("vec_a", "vec_b")
      val edges = p.unionAll(p.select(col("vec_b").as("vec_a"),
          col("vec_a").as("vec_b")))
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        .localCheckpoint(true)
      val labels0 = edges.select(col("doc_a").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
      Dedup.propagate(edges, labels0, Dedup.ItersBudget)
        .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
        .orderBy("vec_id")
    }, {
      // MATERIALIZED + join-based min-neighbor, as in Dedup's cluster
      // CTE chain: plain CTEs re-inline the whole pair pipeline at
      // every propagation level (this oracle alone cost ~15 s at
      // sf0.01 — the driver-budget lesson of r8/r9)
      val iters = Dedup.Iters
      val l = (1 to iters).map { i =>
        s"""l$i AS MATERIALIZED (
           |  SELECT l.vec_id,
           |    least(l.label, coalesce(m.nbr_min, l.label)) AS label
           |  FROM l${i - 1} l
           |  LEFT JOIN (SELECT e2.vec_a AS vec_id, min(l2.label) AS nbr_min
           |             FROM edges e2
           |             JOIN l${i - 1} l2 ON l2.vec_id = e2.vec_b
           |             GROUP BY e2.vec_a) m ON m.vec_id = l.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (${cellsSql()}),
         |p0 AS MATERIALIZED (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${scoreMicroSql("a.embedding", "b.embedding")}
         |    >= $EmbedDupMinMicro),
         |edges AS MATERIALIZED (
         |  SELECT vec_a, vec_b FROM p0
         |  UNION ALL SELECT vec_b AS vec_a, vec_a AS vec_b FROM p0),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT vec_a AS vec_id, vec_a AS label FROM edges),
         |$l
         |SELECT vec_id, label AS cluster_id FROM l$iters
         |ORDER BY vec_id""".stripMargin
    })

  // ---------------------------------------------------------------- G9
  /** Product-quantization ANN (ADC) — the memory side of the 100 TB
    * ANN answer: IVF (G7/G8) bounds how much of the corpus a probe
    * SCANS; PQ bounds how many bytes per vector the scan READS. The
    * 64-dim vector is split into [[PqSub]] subspaces of [[PqSubDim]]
    * dims; each subvector is encoded as the id of its nearest
    * sub-centroid (codebook = G7's trained per-label centroids, sliced
    * per subspace — train once, ship as literals, exactly the
    * [[ivfCodebook]] artifact stance), so a vector compresses to 4
    * small codes (4 bytes vs 256 — a 98% scan-byte reduction at
    * corpus scale). Query = asymmetric distance computation: the probe
    * stays exact, each candidate contributes the integer squared-L2
    * between the probe and its RECONSTRUCTION (the concatenated winning
    * sub-centroids — arithmetic identical to summing per-subspace
    * lookup-table entries, stated as one zip_with so the expression
    * stays whole-stage-codegen); top-10 by approx distance, then the
    * exact cosine kernel reranks only those 10. All-integer encode +
    * ADC ⇒ bit-identical on both engines, oracle-gated; the
    * encode/assignment pass is map-only (no join, no shuffle), the
    * only wide op is the TakeOrdered.
    */
  val PqSub = 4
  val PqSubDim: Int = Dim / PqSub

  private def microOf(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1e6).cast("long"))

  /** PQ reconstruction of `embedding` under the shipped codebook: per
    * subspace, argmin sub-centroid by exact integer squared-L2 (ties →
    * smallest cell id, matching the oracle's `ORDER BY dist, clabel`),
    * concatenated back to a 64-long micro vector. The micro vector is
    * bound ONCE as a lambda variable (the fingerprint idiom) so
    * projection collapse cannot re-derive it per subspace×centroid.
    */
  private def pqRecon(codebook: Array[(Long, Array[Long])]): Column =
    // native fused kernel (graft.functions.PqRecon, r21 — the IvfCells
    // treatment): the composed per-subspace argmin (map_from_arrays +
    // array_min over zip_with/aggregate structs) evaluated as
    // interpreted HOFs per row and broke whole-stage codegen for the
    // encode stage (the s_ann_recall sweep's dominant CPU);
    // VecKernelsSpec pins bit-equality against the composed form
    graft.functions.PqRecon.recon(col("embedding"), codebook, PqSub)

  /** Per-row PQ CODES under the shipped codebook — the encode half of
    * [[pqRecon]] exposed on its own: the [[PqSub]] winning
    * sub-centroid ids (argmin by exact integer squared-L2, ties →
    * smallest cell id) as an `array<long>`. Map-only — this is the
    * expression streaming index maintenance runs per micro-batch to
    * append 4-byte codes for vectors arriving after training, with
    * zero state and zero retraining (the G7 cell-assignment stance,
    * applied to the PQ code table).
    */
  private[graft] def pqCodesCol(
      codebook: Array[(Long, Array[Long])]): Column =
    // native fused kernel — see [[pqRecon]]
    graft.functions.PqRecon.codes(col("embedding"), codebook, PqSub)

  /** Integer ADC distance between the micro-quantized probe and a
    * reconstruction column — the
    * `aggregate(zip_with(micro(probe), recon, (x,c) -> (x-c)²), 0, +)`
    * form as two fused kernels (graft.functions.MicroVec / SqDistL2,
    * r21); VecKernelsSpec pins equality including null/ragged edges.
    */
  private def adcDist(probe: Column, recon: Column): Column =
    graft.functions.SqDistL2.of(
      graft.functions.MicroVec.of(probe, 1000000L), recon)

  val sAnnPq: Q = Q(
    (s, dir) => {
      val cb = ivfCodebook(s, dir)
      val emb = Tables.embeddings(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      // fan removed (r21) — see sAnnIvf
      emb.filter(col("vec_id") =!= 0)
        .withColumn("recon", pqRecon(cb))
        .crossJoin(broadcast(probe))
        .withColumn("approx_dist", adcDist(col("probe"), col("recon")))
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("approx_dist"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("approx_dist"), col("vec_id"))
    },
    s"""WITH cent AS (
       |  SELECT label AS clabel, list(c ORDER BY pos) AS cvec FROM (
       |    SELECT label, pos,
       |      CAST(floor(CAST(sum(x_micro) AS DOUBLE) / count(*)) AS BIGINT)
       |        AS c
       |    FROM (
       |      SELECT label,
       |        generate_subscripts(embedding, 1) - 1 AS pos,
       |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
       |          AS BIGINT) AS x_micro
       |      FROM embeddings)
       |    GROUP BY label, pos)
       |  GROUP BY label),
       |sub AS (
       |  SELECT clabel, j,
       |    list_slice(cvec, j * $PqSubDim + 1, (j + 1) * $PqSubDim)
       |      AS scvec
       |  FROM cent, (SELECT unnest(range(0, $PqSub)) AS j)),
       |q AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS em
       |  FROM embeddings),
       |codes AS (
       |  SELECT vec_id, j, scvec,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY
       |      list_sum(list_transform(
       |        list_zip(list_slice(em, j * $PqSubDim + 1,
       |          (j + 1) * $PqSubDim), scvec),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), clabel) AS rn
       |  FROM q, sub),
       |recon AS (
       |  SELECT vec_id, flatten(list(scvec ORDER BY j)) AS rvec
       |  FROM codes WHERE rn = 1 GROUP BY vec_id),
       |p AS (SELECT em AS pem, embedding AS probe FROM q WHERE vec_id = 0)
       |SELECT q.vec_id AS vec_id, q.label AS label,
       |  CAST(list_sum(list_transform(list_zip(p.pem, r.rvec),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS approx_dist,
       |  ${scoreMicroSql("q.embedding", "p.probe")} AS score_micro
       |FROM q JOIN recon r ON q.vec_id = r.vec_id, p
       |WHERE q.vec_id <> 0
       |ORDER BY approx_dist, q.vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G13
  /** Scalar-quantization ANN (SQ8) — the middle rung of the ANN memory
    * ladder: raw floats (256 B/vector) > SQ8 (64 B) > PQ (4 B). SQ8
    * keeps PER-DIM resolution that PQ's subspace codebooks trade away
    * (each dim quantizes independently to 255 levels between its own
    * corpus min/max), so it is the standard choice when the index must
    * shrink 4× but recall near the exact kernel still matters — FAISS'
    * SQ8, Lucene/HNSW's int8 quantization. Train = ONE
    * map-side-combinable posexplode agg (per-dim min/max — 64 rows at
    * any corpus size) shipped as literals, the [[ivfCodebook]]
    * artifact stance; encode = map-only integer arithmetic; query =
    * integer ADC vs each candidate's midpoint reconstruction, top-10
    * tree-reduced, exact-kernel rerank of only those 10.
    *
    * Integer division inside a zip_with lambda has no DIV operator, so
    * exact floor division is stated as `(n - pmod(n, d)) / d` — the
    * subtraction makes the numerator exactly divisible, and a double
    * division of exactly-divisible longs ≤ 2^53 is exact (here
    * ≤ ~1e9). All operands non-negative, so Spark's truncation and
    * DuckDB's `//` floor agree, keeping every code, reconstruction,
    * and distance bit-identical cross-engine — the oracle gates the
    * full composition.
    */
  private val sq8BoundsCache =
    graft.Artifacts.cache[(Array[Long], Array[Long])]("similarity.sq8Bounds")

  /** Per-dim (min, span) of the micro-unit corpus — the SQ8 codebook:
    * 2·dim longs whatever the corpus size, trained once per
    * (session, corpus) and shipped inside the encode expression.
    */
  private[graft] def sq8Bounds(s: SparkSession, dir: String)
      : (Array[Long], Array[Long]) =
    sq8BoundsCache.getOrElseUpdate(s, dir)(
      graft.sources.ArtifactStore.materializeValue(s,
        "similarity.sq8Bounds", dir) {
        val rows = Tables.embeddings(s, dir)
          .select(posexplode(microOf(col("embedding"))).as(Seq("pos", "x")))
          .groupBy("pos")
          .agg(min("x").as("mn"), max("x").as("mx"))
          .orderBy("pos")
          .collect()
        (rows.map(_.getLong(1)),
          rows.map(r => r.getLong(2) - r.getLong(1)))
      })

  /** Exact non-negative floor division as a codegen-friendly Column. */
  private def idiv(n: Column, d: Column): Column =
    ((n - pmod(n, d)) / d).cast("long")

  /** SQ8 midpoint reconstruction of `embedding` under shipped per-dim
    * bounds: code = (x−mn)·255 DIV (span+1) ∈ [0,255), recon = mn +
    * (2·code+1)·(span+1) DIV 510 — the cell midpoint. Map-only.
    */
  private def sq8Recon(mn: Array[Long], span: Array[Long]): Column =
    // native fused kernel (graft.functions.Sq8Recon, r21) — the
    // four-deep zip_with chain ran interpreted per row; operands are
    // provably non-negative so the kernel's plain floor division
    // equals the composed idiv exactly (VecKernelsSpec pins it)
    graft.functions.Sq8Recon.of(col("embedding"), mn, span)

  val sAnnSq8: Q = Q(
    (s, dir) => {
      val (mn, span) = sq8Bounds(s, dir)
      val emb = Tables.embeddings(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      // fan removed (r21) — see sAnnIvf
      emb.filter(col("vec_id") =!= 0)
        .withColumn("recon", sq8Recon(mn, span))
        .crossJoin(broadcast(probe))
        .withColumn("approx_dist", adcDist(col("probe"), col("recon")))
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("approx_dist"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("approx_dist"), col("vec_id"))
    },
    s"""WITH mm AS (
       |  SELECT list(mn ORDER BY pos) AS mnv, list(mx - mn ORDER BY pos)
       |    AS spv
       |  FROM (
       |    SELECT pos, min(x) AS mn, max(x) AS mx FROM (
       |      SELECT generate_subscripts(embedding, 1) - 1 AS pos,
       |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
       |          AS BIGINT) AS x
       |      FROM embeddings)
       |    GROUP BY pos)),
       |q AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS em
       |  FROM embeddings),
       |r AS (
       |  SELECT vec_id, label, embedding,
       |    list_transform(list_zip(
       |      list_transform(list_zip(em, mnv, spv),
       |        z -> ((z[1] - z[2]) * 255) // (z[3] + 1)),
       |      mnv, spv),
       |      z -> z[2] + ((z[1] * 2 + 1) * (z[3] + 1)) // 510) AS recon
       |  FROM q, mm),
       |p AS (SELECT em AS pem, embedding AS probe FROM q WHERE vec_id = 0)
       |SELECT r.vec_id AS vec_id, r.label AS label,
       |  CAST(list_sum(list_transform(list_zip(p.pem, r.recon),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS approx_dist,
       |  ${scoreMicroSql("r.embedding", "p.probe")} AS score_micro
       |FROM r, p WHERE r.vec_id <> 0
       |ORDER BY approx_dist, r.vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G11
  /** IVF+PQ composed — THE production ANN query shape (what FAISS
    * calls IVFPQ): the coarse quantizer bounds how much of the corpus
    * the probe SCANS (only the probe's cell), PQ bounds the BYTES per
    * scanned vector (4 codes vs 256), ADC ranks the candidates, and
    * the exact cosine kernel reranks only the top 10. G7 and G9 each
    * demonstrated one bound; a 100 TB deployment always runs both —
    * cell restriction caps the shuffle-free scan at ~corpus/k rows
    * and the code table keeps that scan in cache-line territory.
    * Candidate fetch is the G7 broadcast equi-join; encode/ADC are
    * the G9 map-only expressions; all-integer arithmetic end to end,
    * so the oracle gates the whole composition.
    */
  val sAnnIvfPq: Q = Q(
    (s, dir) => {
      val cb = ivfCodebook(s, dir)
      val assigned = Tables.embeddings(s, dir)
        .withColumn("cell", ivfCellCol(cb))
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("cell").as("pcell"))
      // fan removed (r21) — see sAnnIvf
      Tables.embeddings(s, dir)
        .filter(col("vec_id") =!= 0)
        .withColumn("cell", ivfCellCol(cb))
        .join(broadcast(probe), col("cell") === col("pcell"))
        .withColumn("recon", pqRecon(cb))
        .withColumn("approx_dist", adcDist(col("probe"), col("recon")))
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("cell"),
          col("approx_dist"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("approx_dist"), col("vec_id"))
    },
    s"""WITH $ivfRankedCteSql,
       |assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (
       |  SELECT embedding AS probe, cell AS pcell,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS pem
       |  FROM ranked WHERE vec_id = 0 AND rn = 1),
       |sub AS (
       |  SELECT clabel, j,
       |    list_slice(cvec, j * $PqSubDim + 1, (j + 1) * $PqSubDim)
       |      AS scvec
       |  FROM cent, (SELECT unnest(range(0, $PqSub)) AS j)),
       |cand AS (
       |  SELECT a.vec_id, a.label, a.cell, a.embedding,
       |    list_transform(a.embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS em
       |  FROM assigned a, p WHERE a.vec_id <> 0 AND a.cell = p.pcell),
       |codes AS (
       |  SELECT vec_id, j, scvec,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY
       |      list_sum(list_transform(
       |        list_zip(list_slice(em, j * $PqSubDim + 1,
       |          (j + 1) * $PqSubDim), scvec),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), clabel) AS rn
       |  FROM cand, sub),
       |recon AS (
       |  SELECT vec_id, flatten(list(scvec ORDER BY j)) AS rvec
       |  FROM codes WHERE rn = 1 GROUP BY vec_id)
       |SELECT c.vec_id AS vec_id, c.label AS label, c.cell AS cell,
       |  CAST(list_sum(list_transform(list_zip(p.pem, r.rvec),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS approx_dist,
       |  ${scoreMicroSql("c.embedding", "p.probe")} AS score_micro
       |FROM cand c JOIN recon r ON c.vec_id = r.vec_id, p
       |ORDER BY approx_dist, c.vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G12
  /** IVFPQ with multi-cell probing — G11 with G8's recall dial: the
    * probe scans its [[NProbe]] nearest cells instead of one, cells
    * EXPLODED into (probe, pcell) rows so the fetch stays a broadcast
    * EQUI-join; ADC and the exact rerank are unchanged. Candidates
    * are a superset of G11's and each candidate still matches exactly
    * one probed cell (its own assignment), so no dedup pass is
    * needed. This is the full production ANN surface: nprobe trades
    * scan volume for recall, PQ bounds bytes, rerank restores exact
    * order on the shortlist.
    */
  val sAnnIvfPqProbe: Q = Q(
    (s, dir) => {
      val cb = ivfCodebook(s, dir)
      val emb = Tables.embeddings(s, dir)
      val cells = ivfCells(cb)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"),
          explode(transform(slice(array_sort(cells), 1, NProbe),
            c => c.getField("cell"))).as("pcell"))
      // fan removed (r21) — see sAnnIvf
      emb.filter(col("vec_id") =!= 0)
        .withColumn("cell", array_min(cells).getField("cell"))
        .join(broadcast(probe), col("cell") === col("pcell"))
        .withColumn("recon", pqRecon(cb))
        .withColumn("approx_dist", adcDist(col("probe"), col("recon")))
        .orderBy(col("approx_dist"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), col("cell"),
          col("approx_dist"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("approx_dist"), col("vec_id"))
    },
    s"""WITH $ivfRankedCteSql,
       |assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (
       |  SELECT embedding AS probe, cell AS pcell,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS pem
       |  FROM ranked WHERE vec_id = 0 AND rn <= $NProbe),
       |sub AS (
       |  SELECT clabel, j,
       |    list_slice(cvec, j * $PqSubDim + 1, (j + 1) * $PqSubDim)
       |      AS scvec
       |  FROM cent, (SELECT unnest(range(0, $PqSub)) AS j)),
       |cand AS (
       |  SELECT a.vec_id, a.label, a.cell, a.embedding, p.pem,
       |    list_transform(a.embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS em,
       |    p.probe
       |  FROM assigned a, p WHERE a.vec_id <> 0 AND a.cell = p.pcell),
       |codes AS (
       |  SELECT vec_id, j, scvec,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY
       |      list_sum(list_transform(
       |        list_zip(list_slice(em, j * $PqSubDim + 1,
       |          (j + 1) * $PqSubDim), scvec),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), clabel) AS rn
       |  FROM (SELECT DISTINCT vec_id, em FROM cand), sub),
       |recon AS (
       |  SELECT vec_id, flatten(list(scvec ORDER BY j)) AS rvec
       |  FROM codes WHERE rn = 1 GROUP BY vec_id)
       |SELECT c.vec_id AS vec_id, c.label AS label, c.cell AS cell,
       |  CAST(list_sum(list_transform(list_zip(c.pem, r.rvec),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS approx_dist,
       |  ${scoreMicroSql("c.embedding", "c.probe")} AS score_micro
       |FROM cand c JOIN recon r ON c.vec_id = r.vec_id
       |ORDER BY approx_dist, c.vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G16
  /** Two-stage retrieval: ADC shortlist → EXACT re-rank — the final
    * production stage the quantizer ladder exists to feed. Every real
    * ANN serving system uses approximate distances only to CUT a
    * shortlist, never to ORDER the answer: the IVFPQ probe (G12)
    * fetches its multi-cell candidates and ranks them by ADC to keep
    * the top [[RerankC]] (deterministic cut: ties broken by vec_id),
    * then the shortlist alone pays the exact kernel
    * ([[nativeScoreMicro]], the codegen'd cosine) and the answer is
    * the exact-score top 10. Cost shape at 100 TB: the corpus pays
    * cells + PQ codes (bytes-bounded scans), the exact kernel touches
    * C ≈ 50 rows per query — re-rank cost is O(C · dim) regardless of
    * corpus size, and recall is the probe's (whatever the shortlist
    * caught, the re-rank orders perfectly).
    */
  val RerankC = 50

  /** The G16 shortlist, factored for reuse: IVFPQ multi-cell probe →
    * ADC cut to [[RerankC]] rows (ties → vec_id) → EXACT kernel
    * score per survivor. `sAnnRerank` orders it for the top-10
    * answer; `sHybridTopk` ranks it as the dense leg of the fusion.
    */
  private def rerankShortlist(s: SparkSession, dir: String): DataFrame = {
    val cb = ivfCodebook(s, dir)
    val emb = Tables.embeddings(s, dir)
    val cells = ivfCells(cb)
    val assigned = emb.withColumn("cell",
      array_min(cells).getField("cell"))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe"),
        explode(transform(slice(array_sort(cells), 1, NProbe),
          c => c.getField("cell"))).as("pcell"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probe), col("cell") === col("pcell"))
      .withColumn("recon", pqRecon(cb))
      .withColumn("approx_dist", adcDist(col("probe"), col("recon")))
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(RerankC)
      .select(col("vec_id"), col("label"),
        nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
  }

  /** The shared oracle CTE chain for the G16 shortlist (consumed
    * after `$ivfRankedCteSql`): ends at `short` = the RerankC ADC
    * survivors with their raw embeddings + probe.
    */
  private val rerankShortCteSql: String =
    s"""assigned AS (
       |  SELECT vec_id, label, embedding, cell FROM ranked WHERE rn = 1),
       |p AS (
       |  SELECT embedding AS probe, cell AS pcell,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS pem
       |  FROM ranked WHERE vec_id = 0 AND rn <= $NProbe),
       |sub AS (
       |  SELECT clabel, j,
       |    list_slice(cvec, j * $PqSubDim + 1, (j + 1) * $PqSubDim)
       |      AS scvec
       |  FROM cent, (SELECT unnest(range(0, $PqSub)) AS j)),
       |cand AS (
       |  SELECT a.vec_id, a.label, a.cell, a.embedding, p.pem,
       |    list_transform(a.embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS em,
       |    p.probe
       |  FROM assigned a, p WHERE a.vec_id <> 0 AND a.cell = p.pcell),
       |codes AS (
       |  SELECT vec_id, j, scvec,
       |    row_number() OVER (PARTITION BY vec_id, j ORDER BY
       |      list_sum(list_transform(
       |        list_zip(list_slice(em, j * $PqSubDim + 1,
       |          (j + 1) * $PqSubDim), scvec),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), clabel) AS rn
       |  FROM (SELECT DISTINCT vec_id, em FROM cand), sub),
       |recon AS (
       |  SELECT vec_id, flatten(list(scvec ORDER BY j)) AS rvec
       |  FROM codes WHERE rn = 1 GROUP BY vec_id),
       |short AS (
       |  SELECT c.vec_id, c.label, c.embedding, c.probe
       |  FROM cand c JOIN recon r ON c.vec_id = r.vec_id
       |  ORDER BY CAST(list_sum(list_transform(list_zip(c.pem, r.rvec),
       |    z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT), c.vec_id
       |  LIMIT $RerankC)""".stripMargin

  val sAnnRerank: Q = Q(
    (s, dir) =>
      rerankShortlist(s, dir)
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10),
    s"""WITH $ivfRankedCteSql,
       |$rerankShortCteSql
       |SELECT vec_id, label,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM short
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G19
  /** HYBRID RETRIEVAL — lexical BM25 top-k fused with the ANN
    * shortlist by reciprocal-rank fusion: the RAG query shape the
    * quantizer ladder stops just short of (r13 verdict #6). The
    * query is doc/vec 0 taken as a "more-like-this" probe — its
    * embedding drives the dense leg, its distinct tokens drive the
    * sparse leg — and the aligned doc_id/vec_id spaces make the
    * fusion a plain id join.
    *
    * Sparse leg: integer BM25 (k1 = 6/5, b = 3/4 cross-multiplied to
    * pure integers; idf is H20's `10000·N DIV df` stance — ranking-
    * faithful, no logarithm, no float):
    * `score_term = idf_bp · 22·tf·avgdl DIV (10·avgdl·tf + 3·avgdl
    * + 9·dl)`, summed per doc. The postings relation is the STANDING
    * [[TextAnalysis.bm25Index]] lake artifact, so the per-query plan
    * is: one index scan gated by the BROADCAST query-term set → one
    * ≤|terms|-row df aggregate broadcast back → one per-doc sum over
    * term-matching rows (the only shuffle) → TakeOrdered. Int64
    * headroom: idf_bp ≤ 10⁴·N, ×22·tf·avgdl — safe beyond 10⁸ docs;
    * a larger corpus moves the product to DECIMAL(38,0) (the E25
    * idiom).
    *
    * Dense leg: G16's deterministic RerankC shortlist with its exact
    * kernel scores.
    *
    * Fusion: each leg ranked (row_number, ties → id), fused by
    * integer RRF `10⁶ DIV (60 + rank)` (K = 60, the standard
    * constant; at 10⁶ scale every rank ≤ ~940 keeps a distinct
    * reciprocal, so the integer sum is the exact RRF ordering for
    * both legs' C ≤ 50 ranks), absent legs contribute 0, final
    * top-10 by (rrf DESC, id). All-integer end to end ⇒ the whole
    * composition — index, BM25, IVFPQ, ADC, exact kernel, fusion —
    * is oracle-gated.
    */
  val RrfK = 60
  val RrfScale = 1000000L
  val HybridK = 10

  val sHybridTopk: Q = Q(
    (s, dir) => {
      val idx = TextAnalysis.bm25Index(s, dir)
      val (nDocs, avgdl) = TextAnalysis.bm25Stats(s, dir)
      val qterms = broadcast(Tables.documents(s, dir)
        .filter(col("doc_id") === 0)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "").distinct())
      val cand = idx.join(qterms, Seq("tok"))
      val dfRel = cand.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = cand.filter(col("doc_id") =!= 0)
        .join(broadcast(dfRel), Seq("tok"))
        .withColumn("s_term", expr(
          s"((10000 * ${nDocs}L DIV df) * 22 * tf * ${avgdl}L) DIV " +
            s"(10 * ${avgdl}L * tf + 3 * ${avgdl}L + 9 * dl)"))
        .groupBy("doc_id")
        .agg(sum("s_term").as("bm25"))
      val lexTop = scored
        .orderBy(col("bm25").desc, col("doc_id")).limit(RerankC)
        .withColumn("rank_lex", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id").as("id"), col("rank_lex"))
      val annTop = rerankShortlist(s, dir)
        .withColumn("rank_ann", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score_micro").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id").as("id"), col("rank_ann"))
      lexTop.join(annTop, Seq("id"), "full_outer")
        .withColumn("rrf_score",
          coalesce(expr(s"$RrfScale DIV ($RrfK + rank_lex)"), lit(0L)) +
            coalesce(expr(s"$RrfScale DIV ($RrfK + rank_ann)"), lit(0L)))
        .orderBy(col("rrf_score").desc, col("id"))
        .limit(HybridK)
        .select("id", "rrf_score", "rank_lex", "rank_ann")
    },
    s"""WITH $ivfRankedCteSql,
       |$rerankShortCteSql,
       |annr AS (
       |  SELECT vec_id AS id,
       |    row_number() OVER (ORDER BY sm DESC, vec_id) AS rank_ann
       |  FROM (SELECT vec_id,
       |          ${scoreMicroSql("embedding", "probe")} AS sm
       |        FROM short)),
       |tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
       |    FROM documents) WHERE tok <> '' GROUP BY doc_id, tok),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf
       |       GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) // count(*) AS BIGINT) AS avgdl
       |       FROM dl),
       |q AS (SELECT DISTINCT tok FROM tf WHERE doc_id = 0),
       |candl AS (SELECT t.doc_id, t.tok, t.tf FROM tf t
       |          JOIN q USING (tok)),
       |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM candl
       |        GROUP BY tok),
       |sc AS (
       |  SELECT c.doc_id, CAST(sum(
       |    ((10000 * s.n_docs // f.df) * 22 * c.tf * s.avgdl) //
       |    (10 * s.avgdl * c.tf + 3 * s.avgdl + 9 * d.dl)) AS BIGINT)
       |    AS bm25
       |  FROM candl c
       |  JOIN dfr f USING (tok)
       |  JOIN dl d ON d.doc_id = c.doc_id, st s
       |  WHERE c.doc_id <> 0 GROUP BY c.doc_id),
       |lexr AS (
       |  SELECT doc_id AS id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
       |  FROM (SELECT * FROM sc ORDER BY bm25 DESC, doc_id
       |        LIMIT $RerankC))
       |SELECT coalesce(l.id, a.id) AS id,
       |  coalesce($RrfScale // ($RrfK + l.rank_lex), 0) +
       |    coalesce($RrfScale // ($RrfK + a.rank_ann), 0) AS rrf_score,
       |  l.rank_lex, a.rank_ann
       |FROM lexr l FULL JOIN annr a ON a.id = l.id
       |ORDER BY rrf_score DESC, id LIMIT $HybridK""".stripMargin)

  // ---------------------------------------------------------------- G6
  /** Per-label embedding centroids — the aggregation behind IVF coarse
    * quantizers, topic vectors, and class prototypes. Exactness
    * discipline: each component is quantized to integer micro-units
    * FIRST, then summed as BIGINT (associative + commutative — no
    * float summation-order noise to drift the oracle hash), and the
    * mean is a floor over one double division at the very end. One
    * posexplode + one map-side-combinable (label, pos) agg: dim·labels
    * output rows, shuffle volume dim longs per input vector —
    * scale-safe at any corpus size.
    */
  val sCentroids: Q = Q(
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos").cast("long").as("pos"),
          round(col("x").cast("double") * 1e6).cast("long").as("x_micro"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n_vectors"),
          floor(sum("x_micro").cast("double") / count(lit(1)))
            .cast("long").as("centroid_micro"))
        .orderBy("label", "pos"),
    """SELECT label, pos, CAST(n_vectors AS BIGINT) AS n_vectors,
      |  CAST(floor(CAST(sum_micro AS DOUBLE) / n_vectors) AS BIGINT)
      |    AS centroid_micro
      |FROM (
      |  SELECT label, CAST(pos AS BIGINT) AS pos, count(*) AS n_vectors,
      |    sum(x_micro) AS sum_micro
      |  FROM (
      |    SELECT label,
      |      generate_subscripts(embedding, 1) - 1 AS pos,
      |      CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
      |        AS x_micro
      |    FROM embeddings)
      |  GROUP BY label, pos)
      |ORDER BY label, pos""".stripMargin)

  // --------------------------------------------------------------- G10
  /** Label-free coarse-quantizer TRAINING — Lloyd's k-means, the step
    * the IVF family (G6-G9) was missing: the shipped codebook there is
    * aggregated from ground-truth labels, which a real corpus does not
    * have. Deterministic throughout so the oracle is exact: init =
    * the [[kmeansKFor]] smallest vec_ids' vectors (cl 0..k-1 in id
    * order), [[KmeansRounds]] Lloyd rounds in integer MICRO units
    * (assign by squared-L2 argmin with ties to the smaller cluster id
    * — the same `array_min` struct trick as the IVF assignment, whose
    * expression this reuses — then per-dim `floor(Σ/n)` centroid
    * refresh), output = the final assignment. A cluster losing all
    * members simply drops out of the next codebook, both engines
    * alike.
    *
    * Scale shape: each round is one map-only assignment expression
    * over a SHIPPED k×dim-long codebook plus one map-side-combinable
    * (cl, pos) aggregation — the train-then-ship stance of
    * [[ivfCodebook]], now with the training loop included; driver
    * state is k×dim longs per round regardless of corpus size.
    */
  /** Codebook-size ladder: k = the smallest power of two whose SQUARE
    * covers the corpus — the FAISS-style k ≈ √n sizing rule snapped to
    * powers of two so BOTH engines pick it with pure integer
    * arithmetic (no float sqrt/log whose rounding could diverge at a
    * boundary), clamped to [8, [[KmMaxK]]]. The r14 verdict's #3: a
    * fixed k = 8 means n/8-vector cells at a billion vectors — no cap
    * policy can save that; √n keeps EXPECTED cell width at √n too
    * (500 vecs → k=32, 2000 → k=64, the sweep-picked production
    * point). [[KmMaxK]] caps THIS ladder — the √n sizing for the
    * probe-style IVF family, where nprobe, not cell width, is the
    * recall dial. The kNN-GRAPH family, whose cost is quadratic in
    * cell width, sizes with [[knnKFor]] instead (same ladder idea,
    * occupancy-ruled, no 512 wall — the assignment vehicle is the
    * O(1)-plan-size native [[graft.functions.IvfCells]] kernel, so
    * big k is a training-compute question, not an expression-size
    * one).
    */
  val KmKLadder: Seq[Int] = Seq(8, 16, 32, 64, 128, 256)
  val KmMaxK = 512

  def kmeansKFor(n: Long): Int =
    KmKLadder.find(p => p.toLong * p >= n).getOrElse(KmMaxK)

  /** The same ladder pick as a DuckDB scalar subquery (pure integer
    * compare against count(*), engine-identical to [[kmeansKFor]]).
    */
  private val kmKSql: String =
    s"""(SELECT coalesce(min(p), $KmMaxK)
       |  FROM (VALUES ${KmKLadder.map(p => s"($p)").mkString(", ")})
       |    pows(p)
       |  WHERE CAST(p AS BIGINT) * p >=
       |    (SELECT count(*) FROM embeddings))"""
      .stripMargin.replace("\n", " ")

  val KmeansRounds = 2

  private def microVec: Column =
    transform(col("embedding"),
      x => round(x.cast("double") * 1e6).cast("long"))

  private[graft] def kmeansInit(s: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    kmeansInit(s, dir, kmeansKFor(Tables.embeddings(s, dir).count()))

  private[graft] def kmeansInit(s: SparkSession, dir: String,
      k: Int): Array[(Long, Array[Long])] =
    Tables.embeddings(s, dir).orderBy("vec_id").limit(k)
      .select(col("vec_id"), microVec.as("v")).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1).toArray) }

  private[graft] def kmeansRound(s: SparkSession, dir: String,
      cents: Array[(Long, Array[Long])]): Array[(Long, Array[Long])] =
    Tables.embeddings(s, dir)
      // two selects: a generator in the same projection as the argmin
      // struct would re-plan the struct without its field names
      .select(ivfCellCol(cents).as("cl"), col("embedding"))
      .select(col("cl"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cl", "pos")
      .agg(floor(sum(round(col("x").cast("double") * 1e6).cast("long"))
        .cast("double") / count(lit(1))).cast("long").as("c"))
      .groupBy("cl")
      .agg(sort_array(collect_list(struct(col("pos"), col("c"))))
        .as("cvec"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toArray))
      .sortBy(_._1)

  /** One Lloyd assignment in DuckDB: nearest centroid from `c`, ties
    * to the smaller cluster id.
    */
  private def kmAssignSql(c: String): String =
    s"""SELECT vec_id, cl FROM (
       |  SELECT e.vec_id, c.cl,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(e.v, c.v),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |  FROM e CROSS JOIN $c c) WHERE rn = 1""".stripMargin

  /** One centroid refresh in DuckDB from assignment `a`. */
  private def kmRefreshSql(a: String): String =
    s"""SELECT cl, list(cc ORDER BY pos) AS v FROM (
       |  SELECT a.cl, i AS pos,
       |    CAST(floor(CAST(sum(e.v[CAST(i AS INT)]) AS DOUBLE)
       |      / count(*)) AS BIGINT) AS cc
       |  FROM $a a JOIN e ON e.vec_id = a.vec_id,
       |    unnest(range(1, len(e.v) + 1)) AS u(i)
       |  GROUP BY a.cl, i) GROUP BY cl""".stripMargin

  val sKmeans: Q = Q(
    (s, dir) => {
      var cents = kmeansInit(s, dir)
      for (_ <- 1 to KmeansRounds) cents = kmeansRound(s, dir, cents)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), ivfCellCol(cents).as("cluster"))
        .orderBy("vec_id")
    },
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kmKSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |fin AS (${kmAssignSql("c2")})
       |SELECT vec_id, cl AS cluster FROM fin
       |ORDER BY vec_id""".stripMargin)

  // ---------------------------------------------------------- G7-km
  /** IVF over the LABEL-FREE k-means codebook — the production
    * default: real corpora have no ground-truth labels, so the coarse
    * quantizer a deployment ships comes from [[sKmeans]]'s trainer,
    * not from label aggregation. Train-once/ship-as-literals exactly
    * like [[ivfCodebook]] (k×dim longs of driver state at any corpus
    * size, one Artifacts handle per (session, corpus)); assignment,
    * candidate fetch, and rerank are byte-for-byte G7's plan — only
    * the codebook's provenance changes. The labeled path stays as the
    * oracle-friendliest variant; this row proves the composition
    * G10 training → G7 probe end-to-end against DuckDB replaying the
    * same Lloyd rounds.
    */
  private val kmCodebookCache =
    graft.Artifacts.cache[Array[(Long, Array[Long])]](
      "similarity.kmCodebook")

  private[graft] def kmCodebook(s: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    kmCodebookCache.getOrElseUpdate(s, dir)(
      graft.sources.ArtifactStore.materializeValue(s,
        "similarity.kmCodebook", dir) {
        var cents = kmeansInit(s, dir)
        for (_ <- 1 to KmeansRounds) cents = kmeansRound(s, dir, cents)
        cents
      })

  val sAnnIvfKm: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val assigned = emb.withColumn("cell",
        ivfCellCol(kmCodebook(s, dir)))
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("cell").as("pcell"))
      assigned.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kmKSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |fin AS (${kmAssignSql("c2")}),
       |asg AS (
       |  SELECT emb.vec_id, emb.label, emb.embedding,
       |         CAST(f.cl AS BIGINT) AS cell
       |  FROM embeddings emb JOIN fin f ON f.vec_id = emb.vec_id),
       |p AS (SELECT embedding AS probe, cell AS pcell FROM asg
       |      WHERE vec_id = 0)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM asg, p WHERE vec_id <> 0 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  /** The km family's recall dial — G14 with nprobe = [[NProbe]]
    * cells, completing the symmetry with G8: same exploded-probe
    * broadcast equi-join, codebook provenance the only difference.
    * Oracle reranks the km centroids per vector (the kmeans CTE
    * chain + one ranking CTE) exactly as `ivfRankedCteSql` does for
    * the labeled codebook.
    */
  val sAnnIvfKmProbe: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cells = ivfCells(kmCodebook(s, dir))
      val assigned = emb.withColumn("cell", array_min(cells).getField("cell"))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"),
          explode(transform(slice(array_sort(cells), 1, NProbe),
            c => c.getField("cell"))).as("pcell"))
      assigned.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kmKSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |rankedKm AS (
       |  SELECT q.vec_id, CAST(c.cl AS BIGINT) AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(q.v, c.v),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |  FROM e q CROSS JOIN c2 c),
       |asg AS (
       |  SELECT emb.vec_id, emb.label, emb.embedding, r.cell
       |  FROM embeddings emb
       |  JOIN rankedKm r ON r.vec_id = emb.vec_id AND r.rn = 1),
       |p AS (
       |  SELECT emb.embedding AS probe, r.cell AS pcell
       |  FROM embeddings emb
       |  JOIN rankedKm r ON r.vec_id = emb.vec_id AND r.rn <= $NProbe
       |  WHERE emb.vec_id = 0)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM asg, p WHERE vec_id <> 0 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  // --------------------------------------------------------------- G20
  /** The shared km-codebook oracle chain, factored: `e` (micro
    * vectors) → `c0` (init) → two Lloyd rounds → `fin` (the final
    * assignment). Identical text to the chains inlined in
    * [[sKmeans]]/[[sAnnIvfKm]].
    */
  private def finCteSql(kSql: String): String =
    s"""e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |fin AS (${kmAssignSql("c2")})""".stripMargin

  private val kmFinCteSql: String = finCteSql(kmKSql)

  /** The ALL-PAIRS kNN GRAPH — every vector's [[KnnGraphK]] nearest
    * neighbors, not one probe's: the standing relation graph-based
    * curation is built ON (SemDeDup's cluster pruning, kNN-graph
    * agreement filtering, HNSW layer seeding all start here).
    * Candidates are blocked on the label-free km codebook cell (G14's
    * production assignment, map-only under the trained literals).
    * The naive within-cell self-join is Σ cells·width² — quadratic in
    * cell width — so over-cap cells (> [[MaxKnnCell]] vectors) get
    * the engine's SPLIT-DON'T-DROP occupancy policy
    * ([[Dedup.MaxBucket]]'s r14 treatment, applied to quantizer
    * cells): each over-cap cell splits into ⌈n/cap⌉ salted
    * sub-cells, repeated [[KnnSplitRounds]] times with independent
    * salts, candidates = pairs colliding in ANY round, deduped before
    * the kernel. Within-cap cells are untouched (one sub-cell), so
    * the correctness-SF results are the exact within-cell graph; an
    * over-cap cell keeps each pair with probability
    * ≥ 1−(1−1/⌈n/cap⌉)^R and the join stays ≤ R·n·cap per cell —
    * linear in corpus size. The PRIMARY dial is still codebook size
    * (k ≈ corpus/target_width keeps cells within-cap and the graph
    * exact — the round-14 ANN sweep in BASELINE.md); the split is the
    * skew guard for the hot cells any real embedding distribution
    * has. Exact kernel on candidates, per-vector (score DESC, id)
    * row_number keeps k — the E26 heap's plan at scale. All-integer ⇒
    * oracle-gated.
    */
  val KnnGraphK = 3
  val MaxKnnCell = 256
  val KnnSplitRounds = 2

  private def knnSubSpark: String =
    s"""CAST(conv(substring(md5(concat(CAST(vec_id AS STRING), '#',
       |  CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT)
       |  % ((cell_n + ${MaxKnnCell - 1}) DIV $MaxKnnCell)"""
      .stripMargin.replace("\n", " ")

  private def knnSubDuck: String =
    s"""CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#' ||
       |  CAST(r AS VARCHAR)), 1, 8) AS BIGINT)
       |  % ((cell_n + ${MaxKnnCell - 1}) // $MaxKnnCell)"""
      .stripMargin.replace("\n", " ")

  /** MULTI-ASSIGNMENT width: every vector is indexed into its
    * [[KnnAssign]] nearest quantizer cells (IVF's standard
    * multiple-assignment/spill trick), so a true neighbor sitting
    * just across the argmin boundary — the dominant loss channel the
    * G25 recall row measured at 3619 bp under single assignment — is
    * still co-indexed with probability the second cell buys. Index
    * rows grow ×A, the split-capped join stays ≤ R·(A·n)·cap — linear
    * in corpus size at any A.
    */
  val KnnAssign = 4

  /** GRAPH-FAMILY codebook sizing (r19, the r18 verdict's #1): the kNN
    * graph blocks candidates on quantizer cells, so its cost dial is
    * CELL WIDTH, not probe count — past n = MaxKnnCell² the √n rule
    * leaves every cell systematically over the split cap (measured at
    * sf10: width ~390 under k = 512, splits everywhere, and the
    * candidate mass saturated its R·A·n·cap bound). k here is the
    * smallest ladder power satisfying BOTH the √n rule (p² ≥ n — the
    * IVF sizing, binding at small n) and the occupancy rule
    * (p·MaxKnnCell ≥ n — expected width within the cap, binding past
    * n = MaxKnnCell²). Identical to [[kmeansKFor]] for n ≤ 65,536 —
    * every oracle-gated SF — so the two codebooks are ONE artifact
    * there; the graph family trains its own (same Lloyd loop, bigger
    * k) only at the scales where the widths actually diverge. The
    * assignment vehicle is the O(1)-plan-size native kernel
    * ([[graft.functions.IvfCells]]), so k is not an expression-size
    * problem at any rung of the ladder; the ladder top (4096 ⇒ n ≈
    * 1M within-cap) marks where single-level Lloyd training cost
    * (3 passes × n·k·dim) stops being the right trade and a two-level
    * quantizer takes over.
    */
  val KnnKLadder: Seq[Int] =
    Seq(8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
  val KnnMaxK = 4096

  def knnKFor(n: Long): Int =
    KnnKLadder.find(p =>
      p.toLong * p >= n && p.toLong * MaxKnnCell >= n)
      .getOrElse(KnnMaxK)

  /** [[knnKFor]] as a DuckDB scalar subquery — engine-identical
    * integer arithmetic, the [[kmKSql]] twin with the occupancy
    * conjunct added.
    */
  private val knnKSql: String =
    s"""(SELECT coalesce(min(p), $KnnMaxK)
       |  FROM (VALUES ${KnnKLadder.map(p => s"($p)").mkString(", ")})
       |    pows(p)
       |  WHERE CAST(p AS BIGINT) * p >=
       |    (SELECT count(*) FROM embeddings)
       |   AND CAST(p AS BIGINT) * $MaxKnnCell >=
       |    (SELECT count(*) FROM embeddings))"""
      .stripMargin.replace("\n", " ")

  /** The GRAPH codebook's oracle chain — [[finCteSql]] at
    * [[knnKSql]]'s k, numerically equal to [[kmFinCteSql]] at every
    * oracle-gated SF (the occupancy conjunct binds only past
    * n = MaxKnnCell²). Declared here, after [[knnKSql]] — val-init
    * order is load-bearing in this object.
    */
  private val knnFinCteSql: String = finCteSql(knnKSql)

  private val knnCodebookCache =
    graft.Artifacts.cache[Array[(Long, Array[Long])]](
      "similarity.knnCodebook")

  /** The graph family's trained coarse quantizer: the [[kmCodebook]]
    * HANDLE itself wherever [[knnKFor]] and [[kmeansKFor]] agree (all
    * oracle-gated SFs — one training run, one lake artifact), a
    * separately-trained same-Lloyd codebook at [[knnKFor]]'s bigger k
    * once the occupancy rule binds.
    */
  private[graft] def knnCodebook(s: SparkSession, dir: String)
      : Array[(Long, Array[Long])] =
    knnCodebookCache.getOrElseUpdate(s, dir) {
      val n = Tables.embeddings(s, dir).count()
      val k = knnKFor(n)
      if (k == kmeansKFor(n)) kmCodebook(s, dir)
      else graft.sources.ArtifactStore.materializeValue(s,
        "similarity.knnCodebook", dir) {
        var cents = kmeansInit(s, dir, k)
        for (_ <- 1 to KmeansRounds) cents = kmeansRound(s, dir, cents)
        cents
      }
    }

  // ---------------------------------------------- two-level (r19/r20)
  /** Corpus size past which the graph family's quantizer goes
    * TWO-LEVEL. Single-level Lloyd training is 3 full n·k·dim passes;
    * at k = n/MaxKnnCell that is O(n²·dim/cap) — fine to ~1M vectors
    * (the [[KnnKLadder]] top), a wall at the 33M the r18 verdict
    * named. Past the threshold the quantizer becomes HIERARCHICAL
    * residual two-level (r20 — r19 shipped ONE shared k2 residual
    * codebook; its pooled cell geometry halved blocking recall at
    * equal effective cells and the coarse-probe dial could not buy it
    * back — probe = all 32 tops still read 2864 vs flat 4869 bp at
    * sf10, the committed diagnosis grid): a k1-cell top codebook over
    * the vectors plus a LOCAL k2-cell codebook per top over that
    * top's residuals (micro(x) − top centroid), cell id =
    * top·k2 + sub — k1·k2 ≥ n/MaxKnnCell effective leaf cells, each a
    * true Lloyd cell of its top's residual cloud, so the leaf
    * partition approaches flat k-means quality (sf10: 3854 bp at the
    * default probe vs 4869 flat). Training cost n·(k1+k2)·dim ≈
    * n^1.5/√cap·dim instead of n² (~100× less at 33M vectors — each
    * residual only ever scores its own top's k2 subs), every pass
    * map-only + one map-side-combinable aggregation; codebook STATE
    * is (k1·k2)·dim longs riding as a broadcast relation (134 MB at
    * the 33M sizing — the documented bound; past ~100M vectors a
    * deployment caps k2 or trades back to shared subs).
    *
    * THRESHOLD (r20): the r19 default (KnnMaxK·MaxKnnCell ≈ 1M) was
    * set by the TRAINING wall alone — but single-level ASSIGNMENT is
    * the same O(n²·dim/cap) law (every vector scores all k = n/cap
    * cells once the occupancy rule binds), and the sf30 leg measured
    * it biting well before 1M: d_semdedup at 600k vectors read 210 s
    * normalized under single-level k = 4096 (exp(10→30) = 2.08 —
    * pure n·k kernel growth; zero spill, splits bounded — the r19
    * watch line's split-constant theory is DISPROVEN by that
    * artifact) vs 44.5 s under two-level at the same 4096 effective
    * cells (4.7×; train 21 s vs 40 s). Default now
    * KnnMaxK·MaxKnnCell/4 ≈ 262k: past a quarter-million vectors the
    * quadratic assignment term costs more than the ~21%
    * blocking-recall trade buys, and the probe width buys recall back
    * explicitly. Oracle-gated SFs sit far below the threshold; G28
    * and the spec exercise the two-level path by calling
    * [[withTwoLevelCells]] directly.
    */
  private[graft] val KnnTwoLevelPast: Long =
    KnnMaxK.toLong * MaxKnnCell / 4

  /** COARSE-PROBE width for two-level assignment (r20, the r19
    * verdict's #1): how many nearest TOP cells are probed before
    * residual assignment. The r19 shape probed only ⌈√a⌉ tops
    * (t = 2 at the production a = 4), concentrating all a cells in
    * two coarse regions of a k1 = 32 codebook whose cells are ~32×
    * wider than the single-level quantizer's — the measured sf10
    * recall halving (4869 → 2734 bp at equal effective cells).
    * Probing T tops and ranking every (top, sub) candidate by TRUE
    * quantizer distance ‖rv − c2‖² = ‖mv − (c1 + c2)‖² (comparable
    * across tops — the residual identity) is the IMI multi-probe
    * standard: assignment cost grows T/⌈√a⌉× in the map-only kernel,
    * the index mass (a cells/vector) is unchanged, and cross-top true
    * neighbors the coarse argmin misplaced become co-indexable again.
    * The width is max(8, k1/2) — the sf10 grid (BASELINE.md r20)
    * measured recall 3307/3854/4010 bp at t = 8/16/32 of k1 = 32 tops
    * vs single-level 4869 at the same 1024 effective cells, i.e.
    * probing half the coarse level lands ~79% of flat k-means
    * blocking recall while halving flat's per-vector assignment
    * compute (t·k2 < K leaf scans).
    */
  private[graft] def knnTwoLevelProbe(k1: Int): Int = math.max(8, k1 / 2)

  /** [[knnTwoLevelProbe]] as a DuckDB scalar: GREATEST(8, k1/2) over
    * the trained [[tlKSql]] sizing, engine-identical integer
    * arithmetic. A def, because [[tlKSql]] is initialized below.
    */
  private def tlProbeSql: String = s"GREATEST(8, $tlKSql // 2)"

  /** (k1, k2) sizing: total target K = smallest power of two with
    * K·MaxKnnCell ≥ n, k1 = k2 = smallest power of two with k1² ≥ K.
    * Pure integer arithmetic, deterministic from n alone — the
    * assignment's cell-id stride (k2) re-derives from the corpus
    * count, never from the trained codebook's surviving-cluster
    * count (a dropped empty cluster must not renumber every cell).
    */
  private[graft] def knnTwoLevelK(n: Long): (Int, Int) = {
    val K = Iterator.iterate(2L)(_ * 2).find(_ * MaxKnnCell >= n).get
    val k1 = Iterator.iterate(2L)(_ * 2).find(p => p * p >= K).get.toInt
    (k1, k1)
  }

  /** Per-vector residuals against a trained top codebook: (vec_id,
    * top, rv) with rv = micro(embedding) − centroid[top], exact long
    * arithmetic. The codebook join is a broadcast of k1 rows.
    */
  private def residuals(s: SparkSession, dir: String,
      c1: Array[(Long, Array[Long])]): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), microVec.as("_mv"),
        array_min(ivfCells(c1)).getField("cell").as("cell"))
      .join(broadcast(codebookToDf(s)(c1)), Seq("cell"))
      .select(col("vec_id"), col("cell").as("top"),
        zip_with(col("_mv"), col("centroid"), (x, y) => x - y).as("rv"))

  /** The per-top sub-codebooks as a broadcastable relation: (top,
    * subs array<struct<cell, v>> in cell order) — `c2` keys are
    * COMBINED cell ids (top·k2 + sub), so top = cell / k2. This is
    * the codebook's scale-true residence (r20): state is (effective
    * cells)·dim longs of BROADCAST rows, never a plan literal (the
    * 33M-vector sizing is k1 = k2 = 512 → 262k cells ≈ 134 MB — fine
    * as a broadcast, a non-starter as generated code).
    */
  private def subsByTopDf(s: SparkSession,
      c2: Array[(Long, Array[Long])], k2: Int): DataFrame = {
    val sp = s; import sp.implicits._
    c2.toSeq.map { case (cell, v) => (cell / k2, cell, v.toSeq) }
      .toDF("top", "cell", "v")
      .groupBy("top")
      .agg(sort_array(collect_list(struct(col("cell"), col("v"))))
        .as("subs"))
  }

  /** One Lloyd round in RESIDUAL space with PER-TOP local codebooks
    * (r20, the r19 recall fix) — [[kmeansRound]]'s shape over the
    * `(vec_id, top, rv: array<long>)` relation: each residual is
    * assigned to the nearest sub-cell OF ITS OWN TOP (broadcast join
    * on top + the column-codebook kernel — [[graft.functions
    * .IvfCells.cellsLocal]]), refresh per-dim floor(Σ/n) keyed by the
    * combined cell id. No round() in the refresh sum: residuals are
    * already exact micro longs. Empty cells drop per top, ties to
    * the smaller combined id (= smaller sub within the row's top).
    */
  private def kmeansRoundLocal(s: SparkSession, res: DataFrame,
      cents: Array[(Long, Array[Long])], k2: Int)
      : Array[(Long, Array[Long])] =
    res
      .join(broadcast(subsByTopDf(s, cents, k2)), Seq("top"))
      .select(array_min(graft.functions.IvfCells
        .cellsLocal(col("rv"), col("subs"))).getField("cell").as("cl"),
        col("rv"))
      .select(col("cl"), posexplode(col("rv")).as(Seq("pos", "x")))
      .groupBy("cl", "pos")
      .agg(floor(sum("x").cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy("cl")
      .agg(sort_array(collect_list(struct(col("pos"), col("c"))))
        .as("cvec"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)).toArray))
      .sortBy(_._1)

  private val knnCodebook2Cache =
    graft.Artifacts
      .cache[(Array[(Long, Array[Long])], Array[(Long, Array[Long])])](
        "similarity.knnCodebook2")

  /** The two-level trainer (r20 — HIERARCHICAL Lloyd, the r19
    * recall-cliff fix): top Lloyd at k1 (the existing loop), then the
    * SAME loop in residual space with a LOCAL k2-cell sub-codebook
    * PER TOP — c2 keys are combined cell ids top·k2 + sub. The r19
    * shape trained ONE k2 codebook over all residuals pooled; its
    * cell geometry was a compromise across k1 coarse regions and the
    * measured sf10 blocking recall halved vs flat k-means at equal
    * effective cells, with the coarse-probe dial exhausted (probe=32
    * of 32 tops read 2864 bp vs single-level 4869 — the codebook,
    * not the probe set, was the loss channel). Local sub-codebooks
    * are plain hierarchical k-means: each leaf cell is a true Lloyd
    * cell of its top's residuals, and the leaf partition approaches
    * flat k-means quality. The scalability story is unchanged where
    * it mattered — TRAINING/ASSIGNMENT cost stays n·(k1 + t·k2)·dim
    * (each vector scores one top codebook + its probed tops' local
    * subs, never all k1·k2 leaves; flat Lloyd's n·K·dim wall at
    * K = n/cap was the r18 problem) — while codebook STATE grows
    * from (k1+k2)·dim to (k1·k2)·dim longs, riding as a BROADCAST
    * relation (134 MB at the 33M sizing; a deployment past ~100M
    * vectors trades back to shared subs or caps k2 — documented
    * bound, not a cliff). Seeds: the k2 smallest vec_ids OF EACH TOP
    * (two thin passes: a per-top sorted id list — longs only — then
    * one join to fetch those residuals; no wide window). Both
    * codebooks one lake artifact.
    */
  private[graft] def knnCodebook2(s: SparkSession, dir: String)
      : (Array[(Long, Array[Long])], Array[(Long, Array[Long])]) =
    knnCodebook2Cache.getOrElseUpdate(s, dir) {
      graft.sources.ArtifactStore.materializeValue(s,
        "similarity.knnCodebook2", dir) {
        val n = Tables.embeddings(s, dir).count()
        val (k1, k2) = knnTwoLevelK(n)
        var c1 = kmeansInit(s, dir, k1)
        for (_ <- 1 to KmeansRounds) c1 = kmeansRound(s, dir, c1)
        val res = residuals(s, dir, c1).cache()
        val seedIds = res.select(col("top"), col("vec_id"))
          .groupBy("top")
          .agg(slice(sort_array(collect_list(col("vec_id"))), 1, k2)
            .as("ids"))
          .select(col("top"),
            posexplode(col("ids")).as(Seq("sub", "vec_id")))
        var c2 = res.join(seedIds, Seq("top", "vec_id"))
          .select((col("top") * k2 + col("sub")).as("cell"), col("rv"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1)
        // same round count as the top level: more local rounds were
        // measured to HURT blocking recall (2812 bp at 4, BASELINE r20)
        for (_ <- 1 to KmeansRounds)
          c2 = kmeansRoundLocal(s, res, c2, k2)
        res.unpersist(blocking = false)
        (c1, c2)
      }
    }

  /** `df` + an exploded `cell` column: the row's `a` assigned graph-
    * quantizer cells — THE one assignment surface every graph-family
    * consumer goes through (a = 1 is the primary/argmin assignment).
    * Single-level below [[KnnTwoLevelPast]] (the map-only kernel
    * expression, bit-identical to the r18 path); two-level past it
    * (r20 — hierarchical, multi-probed): t = max(⌈√a⌉,
    * [[knnTwoLevelProbe]]) nearest tops by the k1 kernel, residual
    * against each (broadcast of k1 rows), sPer nearest sub-cells from
    * each probed top's OWN local codebook (broadcast join on the top
    * id + the column-codebook kernel; cell ids are combined
    * top·k2 + sub). The ≤ t·sPer candidate superset is trimmed to the
    * a best by TRUE quantizer distance (‖rv − c2‖² — the residual
    * dist IS ‖mv − (c1+c2)‖², comparable across tops), ties to the
    * smaller cell id; a per-vec_id window over ≤ t·sPer rows.
    * Undersized surviving codebooks fail loudly (r19 advice) instead
    * of quietly narrowing the assignment below a cells.
    */
  private[graft] def withKnnCells(s: SparkSession, dir: String,
      df: DataFrame, a: Int): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    if (n <= KnnTwoLevelPast)
      df.withColumn("cell", explode(transform(
        slice(array_sort(ivfCells(knnCodebook(s, dir))), 1, a),
        c => c.getField("cell"))))
    else withTwoLevelCells(s, dir, df, a)
  }

  /** The two-level assignment itself, threshold-free — the body of
    * [[withKnnCells]]' past-threshold branch, callable directly so
    * the oracle-gated G27 row (`s_ann_two_level`) exercises this
    * exact path at every correctness SF.
    */
  private[graft] def withTwoLevelCells(s: SparkSession, dir: String,
      df: DataFrame, a: Int): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    locally {
      val (c1, c2) = knnCodebook2(s, dir)
      val k2t = knnTwoLevelK(n)._2
      val t = math.min(c1.length,
        math.max(math.ceil(math.sqrt(a.toDouble)).toInt,
          knnTwoLevelProbe(knnTwoLevelK(n)._1)))
      val sPer = math.max((a + t - 1) / t, math.min(2, k2t))
      require(t * sPer >= a && c2.length >= a,
        s"two-level codebooks too small for $a-way assignment: " +
          s"${c1.length} surviving tops x ${c2.length} surviving subs " +
          s"yields only t=$t x sPer=$sPer candidate cells")
      val c1df = codebookToDf(s)(c1)
        .select(col("cell").as("_top"), col("centroid").as("_tcv"))
      val subs = subsByTopDf(s, c2, k2t)
        .select(col("top").as("_top"), col("subs").as("_subs"))
      val base = df.withColumn("_mv", microVec)
        .withColumn("_top", explode(transform(
          slice(array_sort(ivfCells(c1)), 1, t),
          c => c.getField("cell"))))
        .join(broadcast(c1df), Seq("_top"))
        .join(broadcast(subs), Seq("_top"))
        .withColumn("_rv",
          zip_with(col("_mv"), col("_tcv"), (x, y) => x - y))
        .withColumn("_sc", explode(slice(array_sort(
          graft.functions.IvfCells.cellsLocal(col("_rv"), col("_subs"))),
          1, sPer)))
        .withColumn("cell", col("_sc").getField("cell"))
      val trimmed =
        if (t * sPer == a) base
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id")
            .orderBy(col("_sc").getField("dist"), col("cell"))
          base.withColumn("_rk", row_number().over(w))
            .filter(col("_rk") <= a).drop("_rk")
        }
      trimmed.drop("_mv", "_top", "_tcv", "_rv", "_sc", "_subs")
    }
  }

  // ------------------------------------------------------------- G28
  /** [[knnTwoLevelK]] as a DuckDB scalar: K = smallest power of two
    * with K·[[MaxKnnCell]] ≥ n, k1 = k2 = smallest power of two with
    * k1² ≥ K — pure integer compares over VALUES ladders, engine-
    * identical (the [[kmKSql]] idiom, two levels deep). Ladders reach
    * 2²⁰ effective cells / k up to 1024 — past any testable corpus.
    */
  private val tlKSql: String =
    s"""(SELECT min(p)
       |  FROM (VALUES ${(1 to 10).map(i => s"(${1 << i})").mkString(", ")})
       |    ps(p)
       |  WHERE CAST(p AS BIGINT) * p >=
       |    (SELECT min(K)
       |     FROM (VALUES ${(1 to 20).map(i => s"(${1 << i})").mkString(", ")})
       |       ks(K)
       |     WHERE CAST(K AS BIGINT) * $MaxKnnCell >=
       |       (SELECT count(*) FROM embeddings)))"""
      .stripMargin.replace("\n", " ")

  /** One Lloyd assignment in RESIDUAL space (DuckDB): nearest sub-
    * centroid OF THE RESIDUAL'S OWN TOP from `c` (combined cell ids —
    * top = cl // k2), ties to the smaller combined id —
    * [[kmAssignSql]] with the relation swapped and the join made
    * per-top (the r20 hierarchical codebook).
    */
  private def tlResAssignSql(c: String): String =
    s"""SELECT vec_id, cl FROM (
       |  SELECT r.vec_id, c.cl,
       |    row_number() OVER (PARTITION BY r.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(r.rv, c.v),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |  FROM res0 r JOIN $c c ON c.cl // $tlKSql = r.top)
       |WHERE rn = 1""".stripMargin

  /** One centroid refresh in RESIDUAL space from assignment `a` —
    * [[kmRefreshSql]] over `res0.rv` (already exact micro longs, so
    * no re-rounding — [[kmeansRoundMicro]]'s refresh).
    */
  private def tlResRefreshSql(a: String): String =
    s"""SELECT cl, list(cc ORDER BY pos) AS v FROM (
       |  SELECT a.cl, i AS pos,
       |    CAST(floor(CAST(sum(r.rv[CAST(i AS INT)]) AS DOUBLE)
       |      / count(*)) AS BIGINT) AS cc
       |  FROM $a a JOIN res0 r ON r.vec_id = a.vec_id,
       |    unnest(range(1, len(r.rv) + 1)) AS u(i)
       |  GROUP BY a.cl, i) GROUP BY cl""".stripMargin

  /** TWO-LEVEL ANN READ — the G27 residual quantizer, oracle-gated
    * (r19 verdict #7: the component was spec-only; every oracle SF
    * sits below the activation threshold, so this row calls
    * [[withTwoLevelCells]] DIRECTLY — the exact past-threshold
    * assignment path). Shape = G14's probe
    * read on the two-level primary cell: train both codebooks
    * ([[knnCodebook2]] — top Lloyd at k1, residual Lloyd at k2),
    * assign every vector its primary cell = argmin over the
    * [[knnTwoLevelProbe]]-probed tops' sub-cells by true quantizer
    * distance, then scan probe 0's cell with the exact kernel.
    * The DuckDB oracle replays BOTH Lloyd chains (top level = the
    * [[sKmeans]] CTE chain at [[tlKSql]]'s k1; residual level =
    * [[KmeansRounds]] generated assign/refresh rounds over
    * rv = v − c1[argmin] against each top's OWN local sub-codebook —
    * combined cell ids, top = cl // k2 — with init = the k2 smallest
    * vec_ids' residuals PER TOP) and the multi-probe argmin
    * ([[tlProbeSql]]), making the driver's correctness gate exercise
    * the n > ~1M assignment path at every round. All-integer ⇒
    * oracle-gated.
    */
  val sAnnTwoLevel: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val assigned = withTwoLevelCells(s, dir, emb, 1)
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"), col("cell").as("pcell"))
      assigned.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
    },
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $tlKSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |rtop AS (${kmAssignSql("c2")}),
       |res0 AS (
       |  SELECT e.vec_id, r.cl AS top,
       |    list_transform(list_zip(e.v, c.v), z -> z[1] - z[2]) AS rv
       |  FROM e JOIN rtop r ON r.vec_id = e.vec_id
       |    JOIN c2 c ON c.cl = r.cl),
       |rc0 AS (
       |  SELECT CAST(s.top * $tlKSql + s.sub AS BIGINT) AS cl,
       |    r.rv AS v
       |  FROM (SELECT vec_id, top,
       |          row_number() OVER (PARTITION BY top ORDER BY vec_id)
       |            - 1 AS sub
       |        FROM res0) s
       |  JOIN res0 r ON r.vec_id = s.vec_id
       |  WHERE s.sub < $tlKSql),
       |${(1 to KmeansRounds).map(i =>
           s"ra$i AS (${tlResAssignSql(s"rc${i - 1}")}),\nrc$i AS (" +
             tlResRefreshSql(s"ra$i") + ")").mkString(",\n")},
       |ptop AS (
       |  SELECT vec_id, cl FROM (
       |    SELECT e.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(e.v, c.v),
       |          z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |    FROM e CROSS JOIN c2 c)
       |  WHERE rn <= LEAST((SELECT count(*) FROM c2),
       |    $tlProbeSql)),
       |pres AS (
       |  SELECT e.vec_id, p.cl AS top,
       |    list_transform(list_zip(e.v, c.v), z -> z[1] - z[2]) AS rv
       |  FROM e JOIN ptop p ON p.vec_id = e.vec_id
       |    JOIN c2 c ON c.cl = p.cl),
       |prim AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT r.vec_id, s.cl AS cell,
       |      row_number() OVER (PARTITION BY r.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(r.rv, s.v),
       |          z -> (z[1] - z[2]) * (z[1] - z[2]))), s.cl) AS rn
       |    FROM pres r JOIN rc$KmeansRounds s
       |      ON s.cl // $tlKSql = r.top)
       |  WHERE rn = 1),
       |asg AS (
       |  SELECT emb.vec_id, emb.label, emb.embedding,
       |    CAST(p.cell AS BIGINT) AS cell
       |  FROM embeddings emb JOIN prim p ON p.vec_id = emb.vec_id),
       |pr AS (SELECT embedding AS probe, cell AS pcell FROM asg
       |       WHERE vec_id = 0)
       |SELECT vec_id, label, cell,
       |  ${scoreMicroSql("embedding", "probe")} AS score_micro
       |FROM asg, pr WHERE vec_id <> 0 AND cell = pcell
       |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin)

  /** The split-blocked shared-cell candidate relation — SCORED:
    * (vec_id, nbr, score_micro), both directions, deduped, under
    * [[KnnAssign]]-way assignment over the [[knnCodebook]] cells —
    * shared by G20's kNN graph and F26's SemDeDup drop rule.
    *
    * Scoring happens INSIDE the cell self-join (r19, the sf10
    * lesson): the fat embedding arrays ride only the LINEAR index
    * relation (A·R·n rows — the self-join's shuffle), each colliding
    * pair is scored in the join stage and projected to three longs
    * before anything wide sees it, and the dedup shuffle is those
    * 24-byte triples. The previous shape (thin pairs → distinct →
    * re-attach both embeddings by two joins) shuffled the QUADRATIC
    * pair relation fat — ~R·A·n·cap pairs × two dim-64 arrays, the
    * measured 101 GB sf10 spill; this shape's shuffles are A·R·n fat
    * rows + the thin triples, linear in corpus mass. A pair colliding
    * in several (cell, round) buckets is scored once per collision —
    * bounded, identical values (the kernel is deterministic), erased
    * by the distinct; cheaper than shipping arrays to dedup first.
    * Half-pairs (vec_id < nbr) halve the kernel and dedup mass; the
    * mirror union restores both directions for per-vector consumers.
    */
  private def knnScoredCandidates(s: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables.embeddings(s, dir)
    // (vec_id, cell) assignment cached thin so the k-means argmin runs
    // once; cell occupancy is a BROADCAST join of the k-row counts
    // relation (groupBy collapses each cell map-side — the old
    // partitionBy("cell") window was the repo's hardest single-task
    // wall: cardinality k, so one task buffered n/k of the corpus by
    // construction even with no skew at all)
    val assigned = withKnnCells(s, dir, emb, KnnAssign)
      .select("vec_id", "cell")
      .cache()
    // within-cap cells skip the extra rounds (identical sub-0 rows
    // the distinct erases — Dedup.lshCandidates' r18 treatment)
    val split = Occupancy
      .attach(assigned, Seq("cell"), "cell_n", broadcastCounts = true)
      .withColumn("r", explode(expr(
        s"sequence(0L, IF(cell_n <= $MaxKnnCell, 0L, ${KnnSplitRounds - 1}L))")))
      .withColumn("sub", expr(knnSubSpark))
      .select("vec_id", "cell", "r", "sub")
    val fat = split
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .cache()
    val half = fat
      .join(fat.select(col("vec_id").as("nbr"), col("cell"), col("r"),
        col("sub"), col("embedding").as("nbr_embedding")),
        Seq("cell", "r", "sub"))
      .filter(col("vec_id") < col("nbr"))
      .select(col("vec_id"), col("nbr"),
        nativeScoreMicro(s, "embedding", "nbr_embedding")
          .as("score_micro"))
      .distinct()
    // Cache lifetime (the lshCandidates note, extended per r19
    // advice): `fat` and `assigned` stay cached until the session
    // clears them — there is deliberately NO eager materialization
    // point here. An eager half.count() + half.cache() was tried
    // (r20) and REVERTED on measurement: the cache is a
    // materialization barrier, so consumers that prune the relation
    // (F26 filters nbr < vec_id and the τ gate — Catalyst pushes
    // both into the join and keeps only the mirror branch of the
    // union) would instead pay the full unfiltered candidate
    // materialization plus a cache round-trip — d_semdedup read 4×
    // its pin. Bench isolates queries with clearCache(); a library
    // session rotating corpora does the same, exactly as for
    // lshScoredPairs' fat.
    half.unionAll(half.select(col("nbr").as("vec_id"),
      col("vec_id").as("nbr"), col("score_micro")))
  }

  /** Oracle CTE chain ending at `cand` = (vec_id, nbr) plus `aprim` =
    * the single-row-per-vector PRIMARY (argmin) assignment — the
    * DuckDB replay of [[knnScoredCandidates]]; shared by G20 and F26.
    * `rkm` ranks the trained centroids per vector exactly as the
    * G14-probe oracle does; rn ≤ [[KnnAssign]] is the index relation,
    * rn = 1 the reporting cell.
    */
  private val knnCandCteSql: String =
    s"""$knnFinCteSql,
       |rkm AS MATERIALIZED (
       |  SELECT q.vec_id, CAST(c.cl AS BIGINT) AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(q.v, c.v),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |  FROM e q CROSS JOIN c2 c),
       |aprim AS MATERIALIZED (
       |  SELECT emb.vec_id, emb.embedding, r.cell
       |  FROM embeddings emb
       |  JOIN rkm r ON r.vec_id = emb.vec_id AND r.rn = 1),
       |splitc AS MATERIALIZED (
       |  SELECT vec_id, cell, r, $knnSubDuck AS sub
       |  FROM (SELECT vec_id, cell,
       |          count(*) OVER (PARTITION BY cell) AS cell_n
       |        FROM (SELECT vec_id, cell FROM rkm
       |              WHERE rn <= $KnnAssign)),
       |       (SELECT unnest(range($KnnSplitRounds)) AS r) rr),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id, b.vec_id AS nbr
       |  FROM splitc a JOIN splitc b
       |    ON b.cell = a.cell AND b.r = a.r AND b.sub = a.sub
       |    AND b.vec_id <> a.vec_id)""".stripMargin

  /** The kNN graph as a MATERIALIZED lake handle (r18): G20's verdict
    * narrative always called the graph "the standing relation" — now
    * it literally is one. Whichever consumer runs first (the G20
    * report, G25's recall row, G23's agreement filter, F26, or the
    * G26 walk) pays the candidate join + scoring once; the rest read
    * the parquet-backed handle, exactly the bands/cellsIndex pattern.
    * The G26 graph walk REQUIRES this: its per-round frontier
    * expansion joins the graph four times, which must be four
    * point-lookup scans of a standing table, not four rebuilds.
    */
  private val knnGraphCache =
    graft.Artifacts.cache[DataFrame]("similarity.knnGraph")

  private[graft] def knnGraphIndex(s: SparkSession, dir: String): DataFrame =
    knnGraphCache.getOrElseUpdate(s, dir)(
      // compactScan (r21): the walk re-joins this handle per round —
      // merge the artifact's file splits once, shuffle-free
      Par.compactScan(
        graft.sources.ArtifactStore.materialize(s, "similarity.knnGraph",
          dir) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id")
            .orderBy(col("score_micro").desc, col("nbr"))
          knnScoredCandidates(s, dir)
            .withColumn("rn", row_number().over(w).cast("long"))
            .filter(col("rn") <= KnnGraphK)
        }))

  val sKnnGraph: Q = Q(
    (s, dir) => knnGraphIndex(s, dir).orderBy("vec_id", "rn"),
    s"""WITH $knnCandCteSql,
       |scored AS (
       |  SELECT c.vec_id, c.nbr,
       |    ${scoreMicroSql("l.embedding", "r2.embedding")} AS score_micro
       |  FROM cand c
       |  JOIN aprim l ON l.vec_id = c.vec_id
       |  JOIN aprim r2 ON r2.vec_id = c.nbr)
       |SELECT vec_id, nbr, score_micro, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score_micro DESC, nbr) AS BIGINT) AS rn
       |  FROM scored)
       |WHERE rn <= $KnnGraphK
       |ORDER BY vec_id, rn""".stripMargin)

  // --------------------------------------------------------------- G25
  /** kNN-GRAPH RECALL — the F21/G15 honesty instrument pointed at
    * G20: over a fixed probe stratum (the [[KnnEvalProbes]]
    * smallest vec_ids — fixed-SIZE, so the evidence row is
    * constant-cost at any corpus scale, the F16 lesson), the exact
    * corpus-wide top-[[KnnGraphK]] edges (same (score DESC, nbr) tie
    * order as the graph) vs the edges the built graph actually holds.
    * Measures BOTH loss channels at once: cross-cell true neighbors
    * the quantizer blocking can never see, and within-cell pairs an
    * over-cap split dropped. One (n_true, n_caught, recall_bp) row —
    * the number a deployment reads before trusting SemDeDup or the
    * agreement filter, and the re-tuning trigger when s_embed_drift
    * says the codebook went stale. All-integer ⇒ oracle-gated.
    */
  val KnnEvalProbes = 128

  val sKnnRecall: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < KnnEvalProbes)
        .select(col("vec_id"), col("embedding"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id")
        .orderBy(col("score_micro").desc, col("nbr"))
      val truth = probes
        .join(emb.select(col("vec_id").as("nbr"),
          col("embedding").as("nbr_embedding")),
          col("nbr") =!= col("vec_id"))
        .select(col("vec_id"), col("nbr"),
          nativeScoreMicro(s, "embedding", "nbr_embedding")
            .as("score_micro"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= KnnGraphK)
        .select("vec_id", "nbr")
      val got = sKnnGraph.fn(s, dir)
        .filter(col("vec_id") < KnnEvalProbes)
        .select(col("vec_id"), col("nbr"))
        .withColumn("hit", lit(1L))
      truth.join(got, Seq("vec_id", "nbr"), "left")
        .agg(count(lit(1)).as("n_true"),
          count(when(col("hit").isNotNull, 1)).as("n_caught"))
        .withColumn("recall_bp", expr("10000 * n_caught DIV n_true"))
    },
    s"""WITH truth AS (
       |  SELECT vec_id, nbr FROM (
       |    SELECT p.vec_id, e.vec_id AS nbr,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
       |        ${scoreMicroSql("p.embedding", "e.embedding")} DESC,
       |        e.vec_id) AS rn
       |    FROM (SELECT vec_id, embedding FROM embeddings
       |          WHERE vec_id < $KnnEvalProbes) p
       |    JOIN embeddings e ON e.vec_id <> p.vec_id)
       |  WHERE rn <= $KnnGraphK),
       |got AS (
       |  SELECT vec_id, nbr FROM (${sKnnGraph.oracle.get})
       |  WHERE vec_id < $KnnEvalProbes)
       |SELECT CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(count(g.vec_id) AS BIGINT) AS n_caught,
       |  CAST(10000 * count(g.vec_id) // count(*) AS BIGINT)
       |    AS recall_bp
       |FROM truth t
       |LEFT JOIN got g ON g.vec_id = t.vec_id AND g.nbr = t.nbr"""
      .stripMargin)

  // --------------------------------------------------------------- G26
  /** GRAPH-WALK ANN (HNSW-family) — greedy beam search over the
    * STANDING G20 kNN graph, the one production ANN index family the
    * G2–G22 ladder lacked (r17 verdict #4). The walk starts from a
    * deterministic entry frontier (the [[WalkBeam]] smallest
    * non-probe vec_ids — the fixed entry point of a single-layer
    * HNSW), and for [[WalkRounds]] fixed rounds expands the frontier
    * by its graph neighbors, scores every candidate against the probe
    * with the same exact integer kernel as every other rung, and
    * keeps the best [[WalkBeam]] so far (score DESC, ties to vec_id —
    * the frontier is best-seen, so quality is monotone in rounds).
    * Fixed rounds + integer scores + deterministic ties = the J5/J6
    * fixed-round idiom: the walk unrolls to a CTE chain DuckDB
    * replays exactly, so the rung is oracle-gated like the other ten
    * and sits in G15's recall table as rung 11.
    *
    * Scale shape: each round is ONE broadcast of a ≤[[WalkBeam]]-row
    * frontier against the lake-resident graph (equi-join on vec_id —
    * a point lookup under any indexed store; a column-pruned
    * broadcast-hash scan here) plus a ≤Beam·(k+1)-row scoring join
    * against the vectors — per-round cost is BEAM-sized, never
    * corpus-sized, and rounds are a named constant. The frontier is
    * eagerly localCheckpoint'ed between rounds so the unrolled plan
    * stays flat (the [[graft.operators.Dedup.propagate]] treatment).
    * 100 TB story: O(Beam·k·Rounds) score evaluations per query
    * regardless of corpus size — the whole point of graph-walk
    * indexes — with the graph build amortized as the standing G20
    * artifact every other curation consumer already maintains.
    */
  /** Walk quality constants; the oracle SQL interpolates the same
    * values. r19 pinned beam 16→64 from the sf0.01 grid (the entry
    * frontier was that corpus's binding loss channel); the r20 sf1
    * grid (r19 verdict #9, BASELINE.md) shows the sf0.01 "rounds
    * stay 4" conclusion was SATURATION, not physics — at 20k vectors
    * the graph is deep enough that rounds bind (beam 64: 4000 bp at
    * rounds 4 → 7000 at rounds 8; beam 128: 4000 → 9000) while beam
    * alone buys nothing past 64 (128/r4 = 64/r4 = 4000). Re-pinned
    * 64→128 beam, 4→8 rounds (walk cost ~5.5 s vs 3.8 at sf1 —
    * per-round cost is beam-sized, so the deeper walk is cheap).
    * Reach scales with graph diameter ~ log n, so fixed values trail
    * at the next decade by construction; a walk that must keep up
    * derives its beam from the data rather than from a constant.
    */
  val WalkBeam = 128
  val WalkRounds = 8

  /** LOCAL FAST PATH for the walk (r21, the [[Dedup.propagate]]
    * localFlood stance): when vectors AND graph edges each fit one
    * slice, the whole beam search runs in a SINGLE zipPartitions task
    * — the distributed loop's per-round cost is two broadcast-build
    * jobs + one TakeOrdered + one eager checkpoint of byte-tiny state,
    * ~45 stages × ~50 ms of pure scheduling at sf0.1 (and the rung is
    * paid TWICE: standalone and inside the G15 recall sweep).
    * Semantics are replicated exactly — the CosineSim fold (same
    * index-order double accumulation), `round(cos·1e6)` via the same
    * BigDecimal HALF_UP + truncating cast, (score DESC, vec_id) beam
    * cuts, frontier ∪ neighbors expansion with vec 0 excluded — and
    * WalkLocalSpec pins local ≡ distributed row-for-row on the real
    * corpus. At scale the row gates fail and the distributed loop
    * below runs unchanged.
    */
  private def localWalk(s: SparkSession, emb: DataFrame,
      g: DataFrame): DataFrame = {
    val labType = emb.schema("label").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label", labType),
      org.apache.spark.sql.types.StructField("score_micro",
        org.apache.spark.sql.types.LongType)))
    val beam = WalkBeam
    val rounds = WalkRounds
    val out = emb.select("vec_id", "label", "embedding").coalesce(1).rdd
      .zipPartitions(g.select("vec_id", "nbr").coalesce(1).rdd) {
        (eit, git) =>
          val vecs = new java.util.HashMap[Long, (Any, Array[Float])]()
          eit.foreach { r =>
            vecs.put(r.getLong(0),
              (r.get(1), r.getSeq[Float](2).toArray))
          }
          val adj = new java.util.HashMap[Long,
            scala.collection.mutable.ArrayBuffer[Long]]()
          git.foreach { r =>
            adj.computeIfAbsent(r.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty[Long]) +=
              r.getLong(1)
          }
          val probe = vecs.get(0L)
          if (probe == null) Iterator.empty
          else {
            val pv = probe._2
            val scores = new java.util.HashMap[Long, java.lang.Long]()
            def score(id: Long): Long = {
              val c = scores.get(id)
              if (c ne null) return c.longValue()
              val v = vecs.get(id)._2
              // the CosineSim fold, then round(cos*1e6) exactly as
              // Round(double)+Cast(long): BigDecimal HALF_UP, NaN/Inf
              // pass through round and truncate in the cast
              var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              val n = math.min(v.length, pv.length)
              val micro =
                if (v.length != pv.length) 0L // null score never ranks
                else {
                  while (i < n) {
                    val xi = v(i).toDouble; val yi = pv(i).toDouble
                    dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
                  }
                  val y = dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6
                  if (y.isNaN || y.isInfinite) y.toLong
                  else java.math.BigDecimal.valueOf(y)
                    .setScale(0, java.math.RoundingMode.HALF_UP)
                    .doubleValue().toLong
                }
              scores.put(id, micro)
              micro
            }
            def cut(ids: Iterator[Long]): Array[Long] =
              ids.filter(id => id != 0L && vecs.containsKey(id)).toArray
                .distinct.sortBy(id => (-score(id), id)).take(beam)
            // entry frontier: the beam smallest non-probe vec_ids
            val entry = {
              val all = vecs.keySet().iterator()
              val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (all.hasNext) { val id = all.next(); if (id != 0L) buf += id }
              buf.sorted.take(beam)
            }
            var frontier = cut(entry.iterator)
            for (_ <- 1 to rounds) {
              val expand = scala.collection.mutable.LinkedHashSet.empty[Long]
              frontier.foreach { id =>
                val ns = adj.get(id)
                if (ns != null) expand ++= ns
              }
              expand ++= frontier
              frontier = cut(expand.iterator)
            }
            frontier.sortBy(id => (-score(id), id)).take(10).iterator
              .map(id => org.apache.spark.sql.Row(
                id, vecs.get(id)._1, score(id)))
          }
      }
    s.createDataFrame(out, schema)
      .orderBy(col("score_micro").desc, col("vec_id"))
      .limit(10)
  }

  /** The walk with an explicit path switch — `forceDistributed` is the
    * spec seam that keeps the distributed loop testable at the gate
    * SFs (WalkLocalSpec pins the two paths row-identical).
    */
  private[graft] def graphWalk(s: SparkSession, dir: String,
      forceDistributed: Boolean = false): DataFrame = {
      val emb = Tables.embeddings(s, dir)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      val g = knnGraphIndex(s, dir).select("vec_id", "nbr")
      if (!forceDistributed) {
        val embRows = emb.count()
        if (embRows > 0 && embRows <= Par.RowsPerSlice) {
          val gRows = g.count()
          if (gRows > 0 && gRows <= Par.RowsPerSlice)
            return localWalk(s, emb, g)
        }
      }
      def scored(ids: DataFrame): DataFrame =
        emb.join(broadcast(ids.select("vec_id")), Seq("vec_id"))
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("label"),
            nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
          .orderBy(col("score_micro").desc, col("vec_id"))
          .limit(WalkBeam)
      var frontier = scored(
        emb.filter(col("vec_id") =!= 0).select("vec_id")
          .orderBy("vec_id").limit(WalkBeam))
        .localCheckpoint(true)
      for (_ <- 1 to WalkRounds) {
        val ids = frontier.select("vec_id")
        val expand = g.join(broadcast(ids), Seq("vec_id"))
          .select(col("nbr").as("vec_id"))
          .filter(col("vec_id") =!= 0)
          .union(ids).distinct()
        frontier = scored(expand).localCheckpoint(true)
      }
      frontier
        .orderBy(col("score_micro").desc, col("vec_id"))
        .limit(10)
  }

  val sAnnGraphWalk: Q = Q(
    (s, dir) => graphWalk(s, dir), {
      val rounds = (1 to WalkRounds).map { i =>
        s"""c$i AS (
           |  SELECT g.nbr AS vec_id
           |  FROM g JOIN s${i - 1} f ON g.vec_id = f.vec_id
           |  WHERE g.nbr <> 0
           |  UNION
           |  SELECT vec_id FROM s${i - 1}),
           |s$i AS MATERIALIZED (
           |  SELECT e.vec_id, e.label,
           |    ${scoreMicroSql("e.embedding", "p.probe")} AS score_micro
           |  FROM embeddings e JOIN c$i USING (vec_id), p
           |  ORDER BY score_micro DESC, e.vec_id LIMIT $WalkBeam)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH g AS MATERIALIZED (
         |  SELECT vec_id, nbr FROM (${sKnnGraph.oracle.get})),
         |p AS (SELECT embedding AS probe FROM embeddings
         |      WHERE vec_id = 0),
         |s0 AS MATERIALIZED (
         |  SELECT e.vec_id, e.label,
         |    ${scoreMicroSql("e.embedding", "p.probe")} AS score_micro
         |  FROM embeddings e
         |  JOIN (SELECT vec_id FROM embeddings WHERE vec_id <> 0
         |        ORDER BY vec_id LIMIT $WalkBeam) f USING (vec_id), p
         |  ORDER BY score_micro DESC, e.vec_id LIMIT $WalkBeam),
         |$rounds
         |SELECT vec_id, label, score_micro FROM s$WalkRounds
         |ORDER BY score_micro DESC, vec_id LIMIT 10""".stripMargin
    })

  // --------------------------------------------------------------- G23
  /** kNN-AGREEMENT FILTER — per vector, the share of its kNN-graph
    * neighbors carrying the SAME label, in bp: the standard
    * neighborhood-consistency mislabel/outlier signal (a vector whose
    * nearest neighbors all disagree with its label is either
    * mislabeled or an off-manifold outlier — either way a curation
    * candidate), and the third consumer of the G20 standing graph the
    * docstring promises. Pure composition: the k edges per vector
    * join the thin (vec_id, label) relation twice — broadcast-scale
    * against the graph — then one map-side-combinable count/agree
    * rollup. A vector alone in its quantizer cell has no graph edges
    * and no row here (agreement over zero neighbors is undefined, not
    * 0 — dropping silent vectors would masquerade as maximal
    * disagreement). All-integer ⇒ oracle-gated.
    */
  val sKnnAgreement: Q = Q(
    (s, dir) => {
      val lab = Tables.embeddings(s, dir).select(col("vec_id"),
        col("label"))
      sKnnGraph.fn(s, dir)
        .select("vec_id", "nbr")
        .join(lab, "vec_id")
        .join(lab.select(col("vec_id").as("nbr"),
          col("label").as("nbr_label")), "nbr")
        .groupBy("vec_id", "label")
        .agg(count(lit(1)).as("n_nbrs"),
          count(when(col("nbr_label") === col("label"), 1))
            .as("n_agree"))
        .withColumn("agree_bp", expr("10000 * n_agree DIV n_nbrs"))
        .orderBy("vec_id")
    },
    s"""WITH agg AS (
       |  SELECT g.vec_id, e.label,
       |    CAST(count(*) AS BIGINT) AS n_nbrs,
       |    CAST(count(CASE WHEN ne.label = e.label THEN 1 END)
       |      AS BIGINT) AS n_agree
       |  FROM (SELECT vec_id, nbr FROM (${sKnnGraph.oracle.get})) g
       |  JOIN embeddings e ON e.vec_id = g.vec_id
       |  JOIN embeddings ne ON ne.vec_id = g.nbr
       |  GROUP BY g.vec_id, e.label)
       |SELECT vec_id, label, n_nbrs, n_agree,
       |  CAST(10000 * n_agree // n_nbrs AS BIGINT) AS agree_bp
       |FROM agg ORDER BY vec_id""".stripMargin)

  // --------------------------------------------------------------- G24
  /** EMBEDDING-DISTRIBUTION DRIFT — the monitor every embedding
    * pipeline runs when a new crawl batch lands (H23's `t_drift`
    * stance moved into embedding space): per production-quantizer
    * cell (the km codebook — the SAME cells the ANN index and
    * SemDeDup live on), the standing corpus's occupancy share vs the
    * new batch's (F13/F28's deterministic carve), in bp, plus the
    * absolute per-cell delta. Σ delta_bp / 2 is total-variation
    * distance — drift concentrated in one cell says "the new crawl
    * found a new mode; retrain the codebook before the index quality
    * quietly rots" (cells are trained artifacts: drift here IS index
    * staleness, not just data change). One map-only cell assignment,
    * one map-side-combinable conditional count, totals broadcast.
    * All-integer ⇒ oracle-gated.
    */
  val sEmbedDrift: Q = Q(
    (s, dir) => {
      val asg = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          ivfCellCol(kmCodebook(s, dir)).as("cell"),
          (col("vec_id") % 5 === 4).as("is_new"))
      val cells = asg.groupBy("cell")
        .agg(count(when(!col("is_new"), 1)).as("n_standing"),
          count(when(col("is_new"), 1)).as("n_batch"))
      val tots = cells.agg(sum("n_standing").as("ts"),
        sum("n_batch").as("tb"))
      cells.crossJoin(broadcast(tots))
        .select(col("cell"), col("n_standing"), col("n_batch"),
          expr("10000 * n_standing DIV ts").as("standing_bp"),
          expr("10000 * n_batch DIV tb").as("batch_bp"))
        .withColumn("delta_bp", abs(col("standing_bp") - col("batch_bp")))
        .orderBy("cell")
    },
    s"""WITH $kmFinCteSql,
       |asg AS (
       |  SELECT vec_id, CAST(cl AS BIGINT) AS cell,
       |    vec_id % 5 = 4 AS is_new
       |  FROM fin),
       |cells AS (
       |  SELECT cell,
       |    CAST(count(CASE WHEN NOT is_new THEN 1 END) AS BIGINT)
       |      AS n_standing,
       |    CAST(count(CASE WHEN is_new THEN 1 END) AS BIGINT)
       |      AS n_batch
       |  FROM asg GROUP BY cell),
       |tots AS (
       |  SELECT CAST(sum(n_standing) AS BIGINT) AS ts,
       |    CAST(sum(n_batch) AS BIGINT) AS tb
       |  FROM cells)
       |SELECT cell, n_standing, n_batch,
       |  CAST(10000 * n_standing // ts AS BIGINT) AS standing_bp,
       |  CAST(10000 * n_batch // tb AS BIGINT) AS batch_bp,
       |  CAST(abs(10000 * n_standing // ts - 10000 * n_batch // tb)
       |    AS BIGINT) AS delta_bp
       |FROM cells, tots ORDER BY cell""".stripMargin)

  // --------------------------------------------------------------- F26
  /** SEMANTIC DEDUPLICATION — the SemDeDup scheme (Abbas et al. 2023,
    * arXiv:2303.09540) the G20 docstring names as the kNN graph's
    * first consumer: embeddings are clustered (here the label-free km
    * codebook, G14's production quantizer), and WITHIN each cluster a
    * vector is dropped when its cosine to another cluster member
    * clears [[SemDupMicro]]. The published implementation resolves
    * "keep one of the pair" by a fixed ordering over the upper
    * triangle of the within-cluster similarity matrix — exactly the
    * min-id dominance rule used here: v is dropped iff SOME candidate
    * u < v sharing one of v's [[KnnAssign]] assigned cells scores ≥ τ
    * (whether or not u itself survives — the paper's rule, NOT
    * connected components: a similarity chain a~b~c with a≁c keeps a
    * and c, where component dedup would over-drop c). Candidates
    * are [[knnScoredCandidates]] — multi-assignment widens recall across
    * argmin boundaries, and the same split-don't-drop occupancy
    * policy keeps over-cap cells degrading recall, never cost. Per vector: its
    * cell, how many smaller-id semantic dups dominate it, the
    * smallest such keeper and the strongest similarity — the drop
    * LIST with its evidence, not just a count. τ here is calibrated
    * to this synthetic corpus (= F6's near-dup bar; a real embedding
    * model runs ~0.95e6). All-integer ⇒ oracle-gated.
    */
  val SemDupMicro = 350000L

  val dSemDedup: Q = Q(
    (s, dir) => {
      val doms = knnScoredCandidates(s, dir)
        .filter(col("nbr") < col("vec_id"))
        .filter(col("score_micro") >= SemDupMicro)
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_sem_dups"),
          min("nbr").as("keeper"),
          max("score_micro").as("max_sim_micro"))
      withKnnCells(s, dir, Tables.embeddings(s, dir), 1)
        .select(col("vec_id"), col("cell"))
        .join(doms, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("n_sem_dups"), lit(0L)).as("n_sem_dups"),
          when(col("keeper").isNull, lit(1L)).otherwise(lit(0L))
            .as("kept"),
          col("keeper"), col("max_sim_micro"))
        .orderBy("vec_id")
    },
    s"""WITH $knnCandCteSql,
       |doms AS (
       |  SELECT vec_id,
       |    CAST(count(*) AS BIGINT) AS n_sem_dups,
       |    min(nbr) AS keeper,
       |    max(score_micro) AS max_sim_micro
       |  FROM (
       |    SELECT c.vec_id, c.nbr,
       |      ${scoreMicroSql("l.embedding", "r2.embedding")}
       |        AS score_micro
       |    FROM cand c
       |    JOIN aprim l ON l.vec_id = c.vec_id
       |    JOIN aprim r2 ON r2.vec_id = c.nbr
       |    WHERE c.nbr < c.vec_id)
       |  WHERE score_micro >= $SemDupMicro
       |  GROUP BY vec_id)
       |SELECT a.vec_id, a.cell,
       |  CAST(coalesce(d.n_sem_dups, 0) AS BIGINT) AS n_sem_dups,
       |  CAST(CASE WHEN d.keeper IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS kept,
       |  d.keeper, d.max_sim_micro
       |FROM aprim a
       |LEFT JOIN doms d ON d.vec_id = a.vec_id
       |ORDER BY a.vec_id""".stripMargin)

  /** F26 AT INGEST — the stream-static form of SemDeDup: each NEW
    * vector is assigned its [[KnnAssign]] cells with the map-only
    * trained-codebook expression, joined against the STANDING
    * corpus's cell index, and dropped when any standing vector in a
    * shared cell clears [[SemDupMicro]] — "is this new embedding a
    * semantic re-crawl of something we already hold". A row's verdict
    * derives only from itself plus the static standing side, so any
    * micro-batch boundary yields the batch-identical result with
    * zero stream state (the F13/F28/H27 ingest-gate stance;
    * batch-internal duplicates are the offline F26 pass's job at the
    * next compaction). Standing side = the F28 carve (vec_id % 5 ≠ 4)
    * so spec batches never match themselves; in production it is the
    * lake-resident vector table and the per-cell width is the
    * codebook-size dial.
    */
  private[graft] def semDedupIngest(s: SparkSession, batch: DataFrame,
      dir: String): DataFrame = {
    val standing = withKnnCells(s, dir,
      Tables.embeddings(s, dir).filter(col("vec_id") % 5 =!= 4),
      KnnAssign)
      .select(col("cell"), col("vec_id").as("std_id"),
        col("embedding").as("std_emb"))
    withKnnCells(s, dir,
      batch.select(col("vec_id"), col("embedding")), KnnAssign)
      .join(standing, Seq("cell"), "left")
      .withColumn("sim", when(col("std_id").isNotNull,
        nativeScoreMicro(s, "embedding", "std_emb")))
      .withColumn("wit", when(col("sim") >= SemDupMicro,
        struct(col("std_id"), col("sim"))))
      .groupBy("vec_id")
      .agg(min(col("wit").getField("std_id")).as("witness"),
        max(col("wit").getField("sim")).as("max_sim_micro"))
      .select(col("vec_id"),
        when(col("witness").isNull, lit(1L)).otherwise(lit(0L))
          .as("kept"),
        col("witness"), col("max_sim_micro"))
  }

  // --------------------------------------------------------------- G21
  /** RANGE SEARCH — every vector within a similarity RADIUS of the
    * probe (cosine ≥ [[RangeMicro]] micro-units), the
    * "all-sufficiently-similar" query dedup gating and contamination
    * sweeps state (top-k answers "the nearest k whatever they look
    * like"; a near-dup gate needs "everything above τ, however many").
    * Same scan shape as the G14 nprobe probe — the probe ranks the km
    * codebook, scans its [[NProbe]] nearest cells via the exploded
    * broadcast equi-join, pays the exact kernel per candidate — with
    * the top-k cut replaced by the threshold predicate, so the result
    * size tracks true neighborhood density. nprobe is the recall dial
    * here exactly as for top-k (a radius match in an unprobed cell is
    * missed; G15 measures the trade). All-integer ⇒ oracle-gated.
    */
  val RangeMicro = 200000L

  val sRangeSearch: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cells = ivfCells(kmCodebook(s, dir))
      val assigned = emb.withColumn("cell",
        array_min(cells).getField("cell"))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"),
          explode(transform(slice(array_sort(cells), 1, NProbe),
            c => c.getField("cell"))).as("pcell"))
      assigned.filter(col("vec_id") =!= 0)
        .join(broadcast(probe), col("cell") === col("pcell"))
        .select(col("vec_id"), col("label"), col("cell"),
          nativeScoreMicro(s, "embedding", "probe").as("score_micro"))
        .filter(col("score_micro") >= RangeMicro)
        .orderBy(col("score_micro").desc, col("vec_id"))
    },
    s"""WITH $kmFinCteSql,
       |rankedKm AS (
       |  SELECT q.vec_id, CAST(c.cl AS BIGINT) AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(q.v, c.v),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cl) AS rn
       |  FROM e q CROSS JOIN c2 c),
       |asg AS (
       |  SELECT emb.vec_id, emb.label, emb.embedding, r.cell
       |  FROM embeddings emb
       |  JOIN rankedKm r ON r.vec_id = emb.vec_id AND r.rn = 1),
       |p AS (
       |  SELECT emb.embedding AS probe, r.cell AS pcell
       |  FROM embeddings emb
       |  JOIN rankedKm r ON r.vec_id = emb.vec_id AND r.rn <= $NProbe
       |  WHERE emb.vec_id = 0),
       |sc AS (
       |  SELECT vec_id, label, cell,
       |    ${scoreMicroSql("embedding", "probe")} AS score_micro
       |  FROM asg, p WHERE vec_id <> 0 AND cell = pcell)
       |SELECT vec_id, label, cell, score_micro FROM sc
       |WHERE score_micro >= $RangeMicro
       |ORDER BY score_micro DESC, vec_id""".stripMargin)

  // --------------------------------------------------------------- G22
  /** MMR DIVERSIFIED RE-RANKING — maximal marginal relevance over the
    * G16 shortlist, the last stage of a production retrieval stack
    * (after hybrid fusion and exact re-rank, a RAG context window
    * wants 5 results that are relevant AND mutually non-redundant —
    * a near-dup-heavy corpus otherwise fills all 5 slots with copies
    * of the same passage). Greedy MMR with λ = ½ scaled out of the
    * integer arithmetic: pick argmax(rel), then [[MmrK]]−1 times pick
    * argmax(rel − max-sim-to-selected) with (value DESC, id) ties —
    * all in exact micro-units, so the whole greedy chain replays in
    * DuckDB and the row hash gates it.
    *
    * Cost shape: every round touches only the C = [[RerankC]]-row
    * shortlist joined to the ≤ [[MmrK]] selected rows — O(C·k·dim)
    * kernel work per QUERY, corpus-size-free (the corpus was paid by
    * the IVFPQ probe that built the shortlist). The selection loop is
    * inherently sequential (that is MMR), but each round is one tiny
    * broadcast join — the per-query latency adder every diversified
    * retrieval system accepts.
    */
  val MmrK = 5

  val sMmr: Q = Q(
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      // the C-row shortlist is the input to EVERY greedy round — as a
      // lazy plan each round would re-run the whole IVFPQ probe, and
      // the accumulating union would nest it exponentially (measured:
      // 25 s for 5 rounds); one eager checkpoint of 50 rows makes
      // every later round a millisecond-scale join
      val rel = rerankShortlist(s, dir)
        .join(emb, "vec_id")
        .select(col("vec_id"), col("score_micro").as("rel_micro"),
          col("embedding"))
        .localCheckpoint(true)
      var selected = rel
        .orderBy(col("rel_micro").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1L).as("sel_round"),
          col("rel_micro"), lit(0L).as("maxsim_micro"), col("embedding"))
        .localCheckpoint(true)
      for (r <- 2 to MmrK) {
        val selEmb = selected.select(col("vec_id").as("sel_id"),
          col("embedding").as("sel_embedding"))
        val pick = rel
          .join(selEmb, col("vec_id") === col("sel_id"), "left_anti")
          .crossJoin(broadcast(selEmb))
          .groupBy(col("vec_id"), col("rel_micro"), col("embedding"))
          .agg(max(nativeScoreMicro(s, "embedding", "sel_embedding"))
            .as("maxsim_micro"))
          .orderBy((col("rel_micro") - col("maxsim_micro")).desc,
            col("vec_id"))
          .limit(1)
          .select(col("vec_id"), lit(r.toLong).as("sel_round"),
            col("rel_micro"), col("maxsim_micro"), col("embedding"))
        selected = selected.unionAll(pick).localCheckpoint(true)
      }
      selected
        .withColumn("mmr_micro", col("rel_micro") - col("maxsim_micro"))
        .select("sel_round", "vec_id", "rel_micro", "maxsim_micro",
          "mmr_micro")
        .orderBy("sel_round")
    },
    {
      val rounds = (2 to MmrK).map { r =>
        val prevSel = (1 until r).map(i => s"SELECT * FROM s$i")
          .mkString(" UNION ALL ")
        s"""m$r AS MATERIALIZED (
           |  SELECT c.vec_id, c.rel_micro, c.embedding,
           |    max(${scoreMicroSql("c.embedding", "s.embedding")})
           |      AS maxsim_micro
           |  FROM rel c, ($prevSel) s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM ($prevSel))
           |  GROUP BY c.vec_id, c.rel_micro, c.embedding),
           |s$r AS MATERIALIZED (
           |  SELECT vec_id, CAST($r AS BIGINT) AS sel_round, rel_micro,
           |    maxsim_micro, embedding
           |  FROM m$r
           |  ORDER BY rel_micro - maxsim_micro DESC, vec_id
           |  LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val all = (1 to MmrK).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH $ivfRankedCteSql,
         |$rerankShortCteSql,
         |rel AS MATERIALIZED (
         |  SELECT vec_id,
         |    ${scoreMicroSql("embedding", "probe")} AS rel_micro,
         |    embedding
         |  FROM short),
         |s1 AS MATERIALIZED (
         |  SELECT vec_id, CAST(1 AS BIGINT) AS sel_round, rel_micro,
         |    CAST(0 AS BIGINT) AS maxsim_micro, embedding
         |  FROM rel ORDER BY rel_micro DESC, vec_id LIMIT 1),
         |$rounds
         |SELECT sel_round, vec_id, rel_micro, maxsim_micro,
         |  rel_micro - maxsim_micro AS mmr_micro
         |FROM ($all)
         |ORDER BY sel_round""".stripMargin
    })

  // --------------------------------------------------------- G-recall
  /** The ANN EVIDENCE TABLE: recall@10 of every approximate rung
    * against the brute-force kernel (G1), in one oracle-gated
    * relation — the number a user needs to pick a rung (and the
    * number every ANN paper reports). One row per config:
    * `hits` = |config top-10 ∩ brute top-10| and
    * `recall_bp = hits·1000` (basis points of 10) — all-integer, so
    * DuckDB replays every config's own oracle pipeline and the table
    * hash-matches exactly. Composition, not new machinery: each
    * config contributes its registry query's 10-row result; the
    * joins are 10-row × 10-row semi-joins after broadcast-scale
    * plans, so the cost is the sum of the family's queries (the
    * point: this is the full evidence sweep a deployment runs once
    * per index build, not per query). Monotonicity (nprobe ⇒ recall)
    * is spec-pinned over this table.
    */
  private val recallConfigs: Seq[(String, Q)] = Seq(
    "s_ann_lsh" -> sAnnLsh,
    "s_ann_multiprobe" -> sAnnMultiprobe,
    "s_ann_ivf" -> sAnnIvf,
    "s_ann_ivf_km" -> sAnnIvfKm,
    "s_ann_ivf_probe" -> sAnnIvfProbe,
    "s_ann_ivf_km_probe" -> sAnnIvfKmProbe,
    "s_ann_pq" -> sAnnPq,
    "s_ann_ivfpq" -> sAnnIvfPq,
    "s_ann_ivfpq_probe" -> sAnnIvfPqProbe,
    "s_ann_sq8" -> sAnnSq8,
    "s_ann_graph_walk" -> sAnnGraphWalk)

  val sAnnRecall: Q = Q(
    (s, dir) => {
      val brute = sCosineTopk.fn(s, dir)
        .select(col("vec_id")).withColumn("_hit", lit(1L))
      val candidates = recallConfigs.map { case (name, q) =>
        q.fn(s, dir).select(col("vec_id")).withColumn("config", lit(name))
      }.reduce(_.unionAll(_))
      candidates.join(broadcast(brute), Seq("vec_id"), "left")
        .groupBy("config")
        .agg(sum(coalesce(col("_hit"), lit(0L))).as("hits"))
        .withColumn("recall_bp", col("hits") * 1000)
        .orderBy("config")
    }, {
      val cfgSql = recallConfigs.map { case (name, q) =>
        s"SELECT '$name' AS config, vec_id FROM (${q.oracle.get})"
      }.mkString("\nUNION ALL\n")
      s"""WITH brute AS (SELECT vec_id FROM (${sCosineTopk.oracle.get})),
         |cfg AS (
         |$cfgSql)
         |SELECT c.config,
         |  CAST(count(b.vec_id) AS BIGINT) AS hits,
         |  CAST(count(b.vec_id) * 1000 AS BIGINT) AS recall_bp
         |FROM cfg c LEFT JOIN brute b ON b.vec_id = c.vec_id
         |GROUP BY c.config
         |ORDER BY config""".stripMargin
    })

  // --------------------------------------------------------------- G18
  /** DIVERSITY SAMPLING — the embedding-space subsample every
    * data-constrained training run draws (the dedup-then-diversify
    * stance): a per-cluster quota over the label-free k-means
    * codebook, so every region of embedding space keeps ⌈n/4⌉
    * representatives and no dense mode drowns out the tails — where a
    * uniform hash sample (H8) would keep 25% of EVERY cluster's mass
    * and so inherit the corpus's mode imbalance, this keeps 25% of
    * each REGION. Selection inside a cluster is by md5(vec_id) — the
    * H8 idiom: deterministic, engine-reproducible, no RNG state.
    * Scale: assignment is the same train-once/ship-as-literals
    * map-only expression as G14 (k×dim driver state); the quota is
    * one row_number window per cluster. At toy k=8 the window would
    * hot-spot 8 reducers on a real corpus — at 100 TB the codebook is
    * sized so cells are executor-bounded (the G15 recall table is the
    * re-tuning tool), or the exact quota relaxes to the map-only
    * hash-threshold form (md5 first hex digit, H8's stance) when
    * ±binomial jitter per cell is acceptable. Oracle replays the
    * Lloyd chain and the same window. (Defined after the k-means
    * block: the oracle string interpolates [[kmKSql]] at val-init,
    * so declaration order is load-bearing.)
    */
  private val DiverseKeepDenom = 4

  val sDiverseSample: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val assigned = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          ivfCellCol(kmCodebook(s, dir)).as("cluster"))
      val byHash = Window.partitionBy("cluster")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      assigned
        .withColumn("rk", row_number().over(byHash))
        .withColumn("cell_n", count(lit(1)).over(
          Window.partitionBy("cluster")))
        // rk ≤ ⌈cell_n/4⌉ in pure integers: (rk-1)·4 < cell_n
        .filter((col("rk") - 1) * DiverseKeepDenom < col("cell_n"))
        .select("vec_id", "label", "cluster")
        .orderBy("vec_id")
    },
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
       |    AS cl, v
       |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $kmKSql)),
       |a1 AS (${kmAssignSql("c0")}),
       |c1 AS (${kmRefreshSql("a1")}),
       |a2 AS (${kmAssignSql("c1")}),
       |c2 AS (${kmRefreshSql("a2")}),
       |fin AS (${kmAssignSql("c2")}),
       |asg AS (
       |  SELECT emb.vec_id, emb.label, CAST(f.cl AS BIGINT) AS cluster
       |  FROM embeddings emb JOIN fin f ON f.vec_id = emb.vec_id),
       |rk AS (
       |  SELECT vec_id, label, cluster,
       |    row_number() OVER (PARTITION BY cluster ORDER BY
       |      md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk,
       |    count(*) OVER (PARTITION BY cluster) AS cell_n
       |  FROM asg)
       |SELECT vec_id, label, cluster FROM rk
       |WHERE (rk - 1) * $DiverseKeepDenom < cell_n
       |ORDER BY vec_id""".stripMargin)

  /** G18's WINDOW-FREE production default (r15 verdict #4): the same
    * per-region ~1/4 quota, but the per-cluster rank window is
    * replaced by a map-only hash-threshold keep — a row survives iff
    * the first 8 md5 hex digits of its vec_id (a 32-bit uniform,
    * deterministic, engine-reproducible — the H8 idiom) fall below
    * its cell's occupancy-derived threshold floor(2³² · ⌈n/4⌉ / n).
    * Occupancy arrives by [[Occupancy.attach]] with broadcast counts
    * (exactly k rows), so the whole plan is scan → one map-side-
    * combinable groupBy over k keys → broadcast join → filter: no
    * window, no per-cluster task funnel, no sort. Kept count per cell
    * is Binomial(n, ⌈n/4⌉/n) instead of exactly ⌈n/4⌉ — the ±√n
    * jitter a 100 TB subsample never notices; the exact window form
    * ([[sDiverseSample]]) remains the oracle vehicle. Spec-pinned to
    * the exact quota within binomial tolerance and plan-audited
    * window-free (PlanAuditSpec).
    */
  def sDiverseSampleApprox(s: SparkSession, dir: String): DataFrame = {
    val assigned = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        ivfCellCol(kmCodebook(s, dir)).as("cluster"))
    Occupancy.attach(assigned, Seq("cluster"), "cell_n",
      broadcastCounts = true)
      // threshold = floor(2^32 * ceil(cell_n/4) / cell_n); u32 from
      // md5. Double arithmetic on the threshold is exact enough (the
      // quotient is ≤ 2^30-scale and cell counts are far below 2^52);
      // the comparison itself is pure integer.
      .withColumn("u32",
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .filter(col("u32") < floor(
        pow(lit(2.0), lit(32.0)) *
          ceil(col("cell_n").cast("double") / DiverseKeepDenom) /
          col("cell_n")).cast("long"))
      .select("vec_id", "label", "cluster")
  }

  val registry: Map[String, Q] = Map(
    "s_ann_ivf_km_probe" -> sAnnIvfKmProbe,
    "s_ann_recall" -> sAnnRecall,
    "s_ann_ivf_km" -> sAnnIvfKm,
    "s_ann_ivfpq" -> sAnnIvfPq,
    "s_ann_ivfpq_probe" -> sAnnIvfPqProbe,
    "s_kmeans" -> sKmeans,
    "s_cosine_topk" -> sCosineTopk,
    "s_centroids" -> sCentroids,
    "d_embed_dup" -> dEmbedDup,
    "s_ann_lsh" -> sAnnLsh,
    "s_ann_multiprobe" -> sAnnMultiprobe,
    "s_knn_join" -> sKnnJoin,
    "s_knn_topk_agg" -> sKnnTopkAgg,
    "s_ann_ivf" -> sAnnIvf,
    "s_ann_ivf_probe" -> sAnnIvfProbe,
    "s_ann_pq" -> sAnnPq,
    "s_ann_sq8" -> sAnnSq8,
    "s_ann_rerank" -> sAnnRerank,
    "s_hybrid_topk" -> sHybridTopk,
    "s_knn_graph" -> sKnnGraph,
    "s_knn_agreement" -> sKnnAgreement,
    "s_knn_recall" -> sKnnRecall,
    "s_embed_drift" -> sEmbedDrift,
    "d_semdedup" -> dSemDedup,
    "s_range_search" -> sRangeSearch,
    "s_mmr" -> sMmr,
    "s_ann_filtered" -> sAnnFiltered,
    "s_ann_two_level" -> sAnnTwoLevel,
    "s_ann_graph_walk" -> sAnnGraphWalk,
    "s_diverse_sample" -> sDiverseSample,
    "d_embed_clusters" -> dEmbedClusters)
}
