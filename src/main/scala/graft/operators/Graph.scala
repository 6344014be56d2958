package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Iterative graph analytics over the report relation — the edge list
  * the reference's whole schema exists to serve (`reportingID` →
  * `reportedID`, ref mysql 01_tables.sql `Reports`; here derived the
  * same way the star pipeline does: `user_id` → `props.k`,
  * operators/Cleanse.scala:35,55).
  *
  * The flagship is a damped power iteration ("suspicion rank"): a
  * player reported by many reporters — weighted by how suspicious
  * those reporters themselves look — ranks higher than one reported
  * by a single noisy account. This is PageRank's recurrence with the
  * report graph's direction, computed in EXACT int64 fixed-point
  * (micro-units, integer division) so Spark and the DuckDB oracle
  * agree bit-for-bit — float power iteration would drift with
  * summation order and can never hash-match across engines.
  *
  * == Scale design ==
  * Each round is one shuffle pair: join ranks to edges on `src`
  * (both sides hash-partition on src; the rank relation is
  * node-sized, far smaller than edges), then aggregate contributions
  * on `dst` with map-side partial sums. The edge relation is built
  * once and persisted — degree, node set, and every round reuse the
  * handle instead of re-parsing the corpus. Iterations are a FIXED
  * small count (3): lineage stays shallow, no checkpoint needed; a
  * to-convergence variant would add `localCheckpoint` every few
  * rounds, changing nothing else. At 100 TB the edge list is the only
  * corpus-sized relation; everything else is O(nodes).
  */
object Graph {

  /** Micro-unit fixed point: rank 1.0 ≡ 1,000,000. */
  private val One = 1000000L

  /** Report edges, deduplicated (a reporter counts once per target),
    * self-reports dropped. An [[graft.Artifacts]] handle shared by all
    * four graph queries: built once per (session, corpus) and
    * eagerly checkpointed — the previous per-query `persist()` pinned
    * a fresh copy in the session's CacheManager on EVERY invocation
    * and never released it (r11 advice); an unreferenced checkpoint
    * handle is reclaimed by the ContextCleaner when the registry
    * drops it.
    */
  private val edgeCache = graft.Artifacts.cache[DataFrame]("graph.edges")

  def reportEdges(s: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(s, dir)(
      // compactScan (r21): every graph query re-joins this relation
      // per round, and the artifact read costs one tiny task per file
      // per scan — merge the splits once at handle creation
      Par.compactScan(
        graft.sources.ArtifactStore.materialize(s, "graph.edges", dir)(
          Tables.events(s, dir)
            .select(col("user_id").as("src"),
              get_json_object(col("props"), "$.k").cast("long").as("dst"))
            .filter(col("dst").isNotNull && col("src") =!= col("dst"))
            .distinct())))

  /** The undirected, deduplicated edge view (one row per unordered
    * pair) — shared by the triangle and component queries; same
    * artifact stance as [[reportEdges]].
    */
  private val undCache = graft.Artifacts.cache[DataFrame]("graph.und")

  private def undirectedEdges(s: SparkSession, dir: String): DataFrame =
    undCache.getOrElseUpdate(s, dir)(
      Par.compactScan(
        graft.sources.ArtifactStore.materialize(s, "graph.und", dir) {
          val e = reportEdges(s, dir)
          e.select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
            .distinct()
        }))

  private val edgesSql =
    """SELECT DISTINCT user_id AS src,
      |                CAST(props->>'k' AS BIGINT) AS dst
      |FROM events
      |WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
      |  AND user_id <> CAST(props->>'k' AS BIGINT)""".stripMargin

  /** r_{t+1}(v) = 0.15 + 0.85 · Σ_{u→v} r_t(u) / outdeg(u), three
    * rounds from a uniform start, all in integer micro-units
    * (`div` = truncating division; every operand non-negative, so it
    * matches DuckDB's floor `//` exactly).
    */
  def suspicionRank(s: SparkSession, dir: String): DataFrame = {
    val e = reportEdges(s, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    var r = nodes.withColumn("r", lit(One))
    for (_ <- 1 to 3) {
      val contrib = e
        .join(deg, "src")
        .join(r.withColumnRenamed("id", "src"), "src")
        .selectExpr("dst AS id", "r div outdeg AS share")
        .groupBy("id").agg(sum("share").as("s"))
      r = nodes.join(contrib, Seq("id"), "left")
        .selectExpr("id", "150000 + (85 * coalesce(s, 0)) div 100 AS r")
    }
    r.select(col("id").as("player_id"), col("r").as("suspicion"))
      .orderBy("player_id")
  }

  private val suspicionSql = {
    def round(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT n.id,
         |         CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(p.r // d.outdeg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN deg d ON d.src = e.src
         |    JOIN $prev p ON p.id = e.src
         |    GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |nodes AS (SELECT src AS id FROM edges
       |          UNION SELECT dst FROM edges),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT id AS player_id, r AS suspicion FROM r3
       |ORDER BY player_id""".stripMargin
  }

  val qSuspicionRank: Q = Q(suspicionRank _, suspicionSql)

  // ---------------------------------------------------------------- J10
  /** PERSONALIZED PageRank — J1's damped power iteration with the
    * restart mass concentrated on ONE seed (the min player id: a
    * deterministic stand-in for "the account under investigation"):
    * r_{t+1}(v) = [v = seed]·150000 + 0.85·Σ_{u→v} r_t(u)/outdeg(u),
    * three rounds from a seed-only start, so mass can only reach
    * nodes within 3 hops of the seed — the "who is in THIS suspect's
    * orbit" query, where J1 answers "who is suspicious globally".
    * Nodes the walk never reached are dropped (r = 0 is non-evidence,
    * and at 100 TB the neighborhood is what fits, not the graph).
    * Same integer micro-unit arithmetic as J1 (`div` truncation over
    * non-negative operands ≡ DuckDB `//`), same per-round one-agg +
    * one-left-join shape over the shared edges artifact.
    */
  def pprRank(s: SparkSession, dir: String): DataFrame = {
    val e = reportEdges(s, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val seeded = nodes.crossJoin(broadcast(nodes.agg(min("id").as("seed"))))
    var r = seeded.selectExpr("id", "seed",
      "CAST(CASE WHEN id = seed THEN 1000000 ELSE 0 END AS BIGINT) AS r")
    for (_ <- 1 to 3) {
      val contrib = e
        .join(deg, "src")
        .join(r.select(col("id").as("src"), col("r")), "src")
        .selectExpr("dst AS id", "r div outdeg AS share")
        .groupBy("id").agg(sum("share").as("s"))
      r = seeded.join(contrib, Seq("id"), "left")
        .selectExpr("id", "seed",
          """CAST(CASE WHEN id = seed THEN 150000 ELSE 0 END
            |  + (85 * coalesce(s, 0)) div 100 AS BIGINT) AS r"""
            .stripMargin)
    }
    r.filter(col("r") > 0)
      .select(col("id").as("player_id"), col("r").as("ppr"))
      .orderBy("player_id")
  }

  private val pprSql = {
    def round(prev: String, next: String): String =
      s"""$next AS (
         |  SELECT n.id, n.seed,
         |    CAST(CASE WHEN n.id = n.seed THEN 150000 ELSE 0 END
         |      + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM seeded n LEFT JOIN (
         |    SELECT e.dst AS id, CAST(sum(p.r // d.outdeg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN deg d ON d.src = e.src
         |    JOIN $prev p ON p.id = e.src
         |    GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
    s"""WITH edges AS MATERIALIZED ($edgesSql),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM edges GROUP BY src),
       |nodes AS (SELECT src AS id FROM edges
       |          UNION SELECT dst FROM edges),
       |seeded AS (SELECT id, (SELECT min(id) FROM nodes) AS seed
       |           FROM nodes),
       |r0 AS (SELECT id, seed,
       |       CAST(CASE WHEN id = seed THEN 1000000 ELSE 0 END
       |         AS BIGINT) AS r FROM seeded),
       |${round("r0", "r1")},
       |${round("r1", "r2")},
       |${round("r2", "r3")}
       |SELECT id AS player_id, r AS ppr FROM r3 WHERE r > 0
       |ORDER BY player_id""".stripMargin
  }

  val qPpr: Q = Q(pprRank _, pprSql)

  /** Mutual-report pairs (A reports B AND B reports A) — the simplest
    * collusion signal: organic reports rarely reciprocate, retaliation
    * and farmed accounts do. One semi-join of the edge list against
    * its own reversal; each pair emitted once (`a < b`).
    */
  def mutualReports(s: SparkSession, dir: String): DataFrame = {
    val e = reportEdges(s, dir)
    val rev = e.select(col("dst").as("rsrc"), col("src").as("rdst"))
    e.join(rev, col("src") === col("rsrc") && col("dst") === col("rdst"),
        "left_semi")
      .filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .orderBy("a", "b")
  }

  val qMutualReports: Q = Q(mutualReports _,
    s"""WITH e AS MATERIALIZED ($edgesSql)
       |SELECT x.src AS a, x.dst AS b
       |FROM e x JOIN e y ON y.src = x.dst AND y.dst = x.src
       |WHERE x.src < x.dst
       |ORDER BY a, b""".stripMargin)

  /** Triangles each player sits in, on the UNDIRECTED report graph —
    * collusion rings show up as dense triangle neighborhoods long
    * before any single account crosses a report threshold.
    *
    * Uses the degree-ordered orientation: every edge points from its
    * (degree, id)-smaller endpoint to the larger, turning the graph
    * into a DAG where each triangle is enumerated EXACTLY once and —
    * the scale point — the join fan-out per vertex is bounded by its
    * oriented out-degree, O(√m) on any graph, so the classic
    * power-law hub that would explode a naive src-joins-dst
    * enumeration contributes almost nothing (its edges all point AT
    * it). Two hash joins + one explode-aggregate; the DuckDB oracle
    * replays the same orientation with row-value comparisons.
    */
  /** The degree-oriented triangle enumeration, factored for reuse by
    * the per-vertex counts (J3) and the per-edge common-neighbor
    * metric (J8): one row per triangle (x, y, z) in oriented order.
    */
  private def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val da = deg.select(col("id").as("a"), col("d").as("da"))
    val db = deg.select(col("id").as("b"), col("d").as("db"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val o = und.join(da, "a").join(db, "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val e1 = o.select(col("u").as("u1"), col("v").as("v1"))
    val e2 = o.select(col("u").as("u2"), col("v").as("v2"))
    val e3 = o.select(col("u").as("u3"), col("v").as("v3"))
    e1.join(e2, col("u2") === col("v1"))
      .join(e3, col("u3") === col("u1") && col("v3") === col("v2"))
      .select(col("u1").as("x"), col("v1").as("y"), col("v2").as("z"))
  }

  /** The matching oracle CTE chain: `und` → `deg` → `o` → `tri`. */
  private val triCteSql: String =
    s"""und AS (SELECT DISTINCT least(src, dst) AS a,
       |                        greatest(src, dst) AS b FROM e),
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d
       |        FROM (SELECT a AS id FROM und
       |              UNION ALL SELECT b FROM und) GROUP BY id),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
       |         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v
       |  FROM und u
       |  JOIN deg da ON da.id = u.a
       |  JOIN deg db ON db.id = u.b),
       |tri AS (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM o e1
       |  JOIN o e2 ON e2.u = e1.v
       |  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)""".stripMargin

  def reportTriangles(s: SparkSession, dir: String): DataFrame = {
    val tri = orientedTriangles(undirectedEdges(s, dir))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("player_id"))
      .groupBy("player_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("player_id")
  }

  val qReportTriangles: Q = Q(reportTriangles _,
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |$triCteSql
       |SELECT player_id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM (SELECT x AS player_id FROM tri
       |      UNION ALL SELECT y FROM tri
       |      UNION ALL SELECT z FROM tri)
       |GROUP BY player_id
       |ORDER BY player_id""".stripMargin)

  /** Sampling-rate constant for [[reportTrianglesApprox]]: the
    * sampled graph is held near `∛K · m^(2/3)` edges (K = 1000 →
    * ~10·m^(2/3)). That exponent is the one that makes BOTH curves
    * behave: the oriented wedge join on the sampled graph costs
    * O(m_s^1.5) = O(√K · m) — LINEAR in the corpus where the exact
    * form grows O(m^1.5) — and the surviving-triangle count
    * X = T·(m_s/m)³ = K·T/m GROWS with scale on any graph whose
    * triangle mass outpaces its edges (this one: T ∝ m^1.26
    * measured), so the estimator gets SHARPER as the corpus gets
    * bigger, not coarser. A fixed edge budget would do the opposite
    * (X ∝ 1/m³ → useless exactly where sampling matters).
    */
  val TriApproxCube = 1000L

  /** APPROXIMATE triangle counts — the scale twin of
    * [[reportTriangles]] (r16 verdict #1), the same exact-plus-sketch
    * stance every other superlinear statistic in the engine follows.
    * DOULION-style deterministic edge sparsification (Tsourakakis et
    * al., KDD'09): keep an edge iff the first 8 md5 hex digits of
    * "a_b" (a 32-bit uniform, deterministic and engine-reproducible —
    * the H8 idiom) fall under 2³²/2^L, count triangles on the sampled
    * graph with the SAME degree-oriented enumeration, and scale by
    * 8^L (a triangle survives iff its three edges do: p³ = 8^-L).
    * L is the smallest level satisfying (m >> L)³ ≤ K·m² (see
    * [[TriApproxCube]]) — p is a power of two, so the threshold and
    * the 8^L scale are EXACT integers in both engines, and the
    * estimator is unbiased: E[est] = exact.
    *
    * Scale shape: one scan of the edge relation (md5 + compare,
    * map-side), then the oriented wedge join on ~10·m^(2/3) edges —
    * O(m) total where the exact form's wedge mass grows O(m^1.5)
    * (measured 11.9× at the sf0.1→sf1 step). Variance prices the
    * savings: relative sd ≈ 1/√X with X = K·T/m survivors — ~2%
    * at sf0.1 (X ≈ 2500), improving with scale; per-vertex estimates
    * are meaningful for triangle-heavy vertices, and GraphXCrossSpec
    * pins the global mass inside the binomial band of the exact
    * counts plus per-vertex subset containment. At L = 0 (small
    * corpora, m ≤ K) the filter vanishes and the estimates ARE the
    * exact counts.
    */
  def reportTrianglesApprox(s: SparkSession, dir: String): DataFrame =
    reportTrianglesApproxAt(s, dir, TriApproxCube)

  /** [[reportTrianglesApprox]] with an explicit rate constant (spec
    * hook: a small K forces deep sampling levels on tiny corpora).
    */
  def reportTrianglesApproxAt(s: SparkSession, dir: String,
      k: Long): DataFrame = {
    val und = undirectedEdges(s, dir)
    val m = und.count() // one scalar job over the standing artifact
    val bound = BigInt(k) * BigInt(m) * BigInt(m)
    var lvl = 0
    while (lvl < 20 && BigInt(m >> lvl).pow(3) > bound) lvl += 1
    val samp =
      if (lvl == 0) und
      else und.filter(
        conv(substring(md5(concat(col("a").cast("string"), lit("_"),
          col("b").cast("string"))), 1, 8), 16, 10).cast("long")
          < (4294967296L >> lvl))
    val scale = 1L << (3 * lvl) // lvl ≤ 20 keeps 8^L inside a long
    orientedTriangles(samp)
      .select(explode(array(col("x"), col("y"), col("z")))
        .as("player_id"))
      .groupBy("player_id")
      .agg((count(lit(1)) * lit(scale)).as("est_triangles"))
      .orderBy("player_id")
  }

  /** The sampling level as DuckDB SQL: smallest L with
    * (m >> L)³ ≤ K·m² — integer shifts and HUGEINT products only, so
    * both engines agree at every boundary.
    */
  private def triLvlCaseSql(k: Long): String =
    (0 to 19).map(l =>
      s"""WHEN CAST(m >> $l AS HUGEINT) * (m >> $l) * (m >> $l)
         |  <= CAST($k AS HUGEINT) * m * m THEN $l"""
        .stripMargin.replace("\n", " "))
      .mkString("CASE ", " ", " ELSE 20 END")

  val qReportTrianglesApprox: Q = Q(reportTrianglesApprox _,
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |                     greatest(src, dst) AS b FROM e),
       |lvl AS (SELECT ${triLvlCaseSql(TriApproxCube)} AS L
       |        FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM und)),
       |samp AS MATERIALIZED (
       |  SELECT a, b FROM und, lvl
       |  WHERE L = 0 OR CAST('0x' || substr(md5(CAST(a AS VARCHAR)
       |    || '_' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT)
       |    < (CAST(4294967296 AS BIGINT) >> L)),
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d
       |        FROM (SELECT a AS id FROM samp
       |              UNION ALL SELECT b FROM samp) GROUP BY id),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
       |         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v
       |  FROM samp u
       |  JOIN deg da ON da.id = u.a
       |  JOIN deg db ON db.id = u.b),
       |tri AS (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM o e1
       |  JOIN o e2 ON e2.u = e1.v
       |  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT player_id,
       |       CAST(count(*) * (CAST(1 AS BIGINT)
       |            << (3 * (SELECT L FROM lvl))) AS BIGINT)
       |         AS est_triangles
       |FROM (SELECT x AS player_id FROM tri
       |      UNION ALL SELECT y FROM tri
       |      UNION ALL SELECT z FROM tri)
       |GROUP BY player_id
       |ORDER BY player_id""".stripMargin)

  /** Connected components of the undirected report graph — the
    * "report cluster" a player belongs to (labelled by its minimum
    * player id), reusing the engine's bounded min-label propagation
    * ([[Dedup.propagate]]: converge-early DataFrame loop with eager
    * checkpoints). The oracle (r17b) is a convergence-GUARDED
    * min-label propagation + pointer-jumping chain in DuckDB SQL (12
    * fixed rounds, emits EMPTY if unconverged so a short budget reads
    * as a loud row mismatch, never a silent pass) — the same
    * algorithm FAMILY as the Spark side, so the oracle certifies the
    * fixpoint but not algorithmic independence; independence rests on
    * the GraphX cross-check (GraphXCrossSpec: row-identical CC from
    * Pregel, a third implementation).
    */
  def reportComponents(s: SparkSession, dir: String): DataFrame = {
    val und = undirectedEdges(s, dir)
    val sym = und.select(col("a").as("doc_a"), col("b").as("doc_b"))
      .unionAll(und.select(col("b").as("doc_a"), col("a").as("doc_b")))
    val labels0 = sym.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    Dedup.propagate(sym, labels0, 30)
      .select(col("doc_id").as("player_id"),
        col("label").as("component_id"))
      .orderBy("player_id")
  }

  /** J5 oracle rounds: min-label propagation WITH pointer jumping
    * (each round also takes the label's label), so a component of
    * diameter ≤ 2^K converges in K rounds — 12 covers any corpus this
    * engine will ever be handed. The chain is CONVERGENCE-GUARDED:
    * the final select emits ONLY IF round K equals round K−1 (a
    * fixpoint of neighbor-min is constant-per-component at the
    * component minimum — exactly the Spark side's converged
    * propagate), so an undersized K fails the parity gate LOUDLY with
    * a row-count mismatch instead of silently passing a partial
    * flood. Replaced the WITH RECURSIVE transitive closure (r17b):
    * the closure materializes |component|² reach pairs and cannot be
    * CTE-hoisted, which left J5 the one sf1 line with no direct value
    * parity; the fixed-round chain is O(K·E), hoists, and states the
    * same fixpoint.
    */
  private val CcRounds = 12

  val qReportComponents: Q = Q(reportComponents _, {
    val rounds = (1 to CcRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.id,
         |    least(l.l, coalesce(m.nm, l.l), coalesce(j.l, l.l)) AS l
         |  FROM l${i - 1} l
         |  LEFT JOIN (SELECT s.a AS id, min(x.l) AS nm
         |             FROM sym s JOIN l${i - 1} x ON x.id = s.b
         |             GROUP BY s.a) m ON m.id = l.id
         |  LEFT JOIN l${i - 1} j ON j.id = l.l)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |und AS (SELECT DISTINCT least(src, dst) AS a,
       |                        greatest(src, dst) AS b FROM e),
       |sym AS MATERIALIZED (
       |  SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS id, a AS l FROM sym),
       |$rounds,
       |conv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
       |  SELECT id, l FROM l$CcRounds
       |  EXCEPT SELECT id, l FROM l${CcRounds - 1}))
       |SELECT id AS player_id, CAST(l AS BIGINT) AS component_id
       |FROM l$CcRounds, conv WHERE conv.n = 0
       |ORDER BY player_id""".stripMargin
  })

  // ---------------------------------------------------------------- J6
  /** Community detection by synchronous label propagation (LPA) over
    * the undirected report graph — the density-aware sibling of J5's
    * connected components: CC merges everything reachable (one bridge
    * fuses two tight groups into one component), LPA lets each node
    * adopt its neighborhood's MAJORITY label, so sparsely-bridged
    * dense groups keep distinct communities (spec pins exactly that
    * shape: two cliques + one bridge → two communities where CC
    * yields one). Fully deterministic — SYNCHRONIZED rounds (no
    * update-order dependence), majority ties broken by smallest
    * label — so the DuckDB oracle replays the identical fixed-round
    * chain. Per round: one edge⋈label join + one (node, label) count
    * + one per-node top-1 under a node-partitioned window — O(E)
    * work, `LpaRounds` fixed; the edge relation rides the
    * lake-resident graph artifact.
    */
  val LpaRounds = 4

  private[graft] def lpa(und: DataFrame): DataFrame = {
    // the edge relation is loop-invariant — shuffle it ONCE at a
    // count-derived width and persist (r21, the propagate stance):
    // un-persisted, every round re-derived it from the artifact scan
    // twice, and with the compacted 1-task artifact read that
    // serialized ~8 derivations of real hashing work at sf1
    val eb0 = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    // lpa's rounds do join + two aggregations + an exchange write per
    // edge (~1 µs/row) — slice ~8× denser than the propagate loop's
    // join-only rounds
    val eb = eb0.repartition(
        Par.roundWidth(eb0.count(), Par.RowsPerSlice / 8), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = eb.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to LpaRounds) {
      // per-node majority via a MIN-STRUCT AGGREGATION, not a rank
      // window (r21, guide §2.3 "aggregate before you shuffle"): the
      // (node, label) count rows are unique per group, so the
      // row_number() = 1 row under (c DESC, label ASC) is EXACTLY
      // argmin of (-c, label) — an agg with map-side partials, where
      // the window form sorted every candidate row in one
      // AQE-coalesced task per round. Same rows out; the oracle keeps
      // the row_number() form.
      labels = eb.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("label").as("label")))
          .as("top"))
        .select(col("node"), col("top.label").as("label"))
    }
    val out = labels.select(col("node"), col("label").as("community"))
      .localCheckpoint(true)
    eb.unpersist(blocking = false)
    out
  }

  private def lpaSql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""l$r AS (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY c DESC, label) AS rn
         |    FROM (SELECT e2.src AS node, l.label,
         |            CAST(count(*) AS BIGINT) AS c
         |          FROM eb e2 JOIN l${r - 1} l ON l.node = e2.dst
         |          GROUP BY e2.src, l.label))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |und AS (SELECT DISTINCT least(src, dst) AS a,
       |                        greatest(src, dst) AS b FROM e),
       |eb AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |      UNION ALL SELECT b AS src, a AS dst FROM und),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM eb),
       |$rounds
       |SELECT node, label AS community FROM l$LpaRounds
       |ORDER BY node""".stripMargin
  }

  val qCommunities: Q = Q(
    (s, dir) => lpa(undirectedEdges(s, dir)).orderBy("node"),
    lpaSql)

  // ---------------------------------------------------------------- J7
  /** k-core decomposition by synchronous peeling — the graph-density
    * sibling of the triangle counts: the 2-core is what remains after
    * repeatedly deleting every node with fewer than 2 surviving
    * neighbors, so hang-around leaves and chains fall away and only
    * structurally-embedded players remain (a collusion ring is a
    * k-core; a lone noisy reporter never is). Output per node:
    * `in_core` plus the PEEL ROUND at which the node fell (the "onion
    * layer" — 1 = outermost leaf, 0 = survives), a strictly richer
    * signal than the boolean.
    *
    * Determinism: peeling is SYNCHRONIZED (each round removes every
    * current sub-k-degree node simultaneously), so there is no
    * removal-order dependence and the DuckDB oracle replays the
    * identical fixed-round chain. Rounds are capped at
    * [[KcoreRounds]]; a round that peels nothing is a fixpoint (the
    * edge set is unchanged, so every later round peels nothing), which
    * lets the Spark loop exit early while still matching the oracle's
    * unrolled rounds exactly.
    *
    * Scale shape: per round one degree aggregation over surviving
    * edges (map-side combinable) + two anti-joins, all keyed on node
    * id; the edge relation shrinks monotonically and is eagerly
    * checkpointed per round (shallow lineage, the [[Dedup.propagate]]
    * stance). O(E) per round, [[KcoreRounds]] fixed.
    */
  val KcoreK = 2
  val KcoreRounds = 6

  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreOf(undirectedEdges(s, dir))

  private[graft] def kcoreOf(und: DataFrame): DataFrame = {
    val nodes = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id"))).distinct()
      .localCheckpoint(true)
    var edges = und
    var alive = nodes
    var peeled: DataFrame = null
    var done = false
    for (r <- 1 to KcoreRounds if !done) {
      val deg = edges.select(col("a").as("id"))
        .unionAll(edges.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val peel = alive.join(deg, Seq("id"), "left")
        .filter(coalesce(col("d"), lit(0L)) < KcoreK)
        .select(col("id"), lit(r.toLong).as("peel_round"))
        .localCheckpoint(true)
      if (peel.isEmpty) done = true
      else {
        peeled = if (peeled == null) peel else peeled.unionAll(peel)
        alive = alive.join(peel, Seq("id"), "left_anti")
          .localCheckpoint(true)
        edges = edges
          .join(peel.select(col("id").as("a")), Seq("a"), "left_anti")
          .join(peel.select(col("id").as("b")), Seq("b"), "left_anti")
          .localCheckpoint(true)
      }
    }
    val fallen = if (peeled == null)
      nodes.select(col("id"), lit(null).cast("long").as("peel_round"))
        .limit(0)
    else peeled
    nodes.join(fallen, Seq("id"), "left")
      .select(col("id").as("player_id"),
        coalesce(col("peel_round"), lit(0L)).as("peel_round"),
        when(col("peel_round").isNull, lit(1L)).otherwise(lit(0L))
          .as("in_core"))
      .orderBy("player_id")
  }

  private def kcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { r =>
      val p = r - 1
      s"""d$r AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT a AS id FROM e$p UNION ALL SELECT b FROM e$p)
         |  GROUP BY id),
         |peel$r AS MATERIALIZED (
         |  SELECT n.id, CAST($r AS BIGINT) AS peel_round
         |  FROM alive$p n LEFT JOIN d$r ON d$r.id = n.id
         |  WHERE COALESCE(d$r.d, 0) < $KcoreK),
         |alive$r AS MATERIALIZED (SELECT id FROM alive$p
         |  WHERE id NOT IN (SELECT id FROM peel$r)),
         |e$r AS MATERIALIZED (SELECT a, b FROM e$p
         |  WHERE a NOT IN (SELECT id FROM peel$r)
         |    AND b NOT IN (SELECT id FROM peel$r))""".stripMargin
    }.mkString(",\n")
    val union = (1 to KcoreRounds)
      .map(r => s"SELECT * FROM peel$r").mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a,
       |                        greatest(src, dst) AS b FROM e),
       |nodes AS MATERIALIZED (SELECT a AS id FROM und
       |                       UNION SELECT b FROM und),
       |e0 AS MATERIALIZED (SELECT a, b FROM und),
       |alive0 AS MATERIALIZED (SELECT id FROM nodes),
       |$rounds,
       |fallen AS ($union)
       |SELECT n.id AS player_id,
       |  COALESCE(f.peel_round, 0) AS peel_round,
       |  CAST(CASE WHEN f.id IS NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_core
       |FROM nodes n LEFT JOIN fallen f ON f.id = n.id
       |ORDER BY player_id""".stripMargin
  }

  val qKcore: Q = Q(kcore _, kcoreSql)

  // ---------------------------------------------------------------- J8
  /** Per-EDGE common-neighbor count + neighborhood Jaccard — the link
    * strength / link prediction signal (an edge whose endpoints share
    * most of their neighborhoods is intra-community; a bridge shares
    * none): for each undirected edge (a, b), `cn` = |N(a) ∩ N(b)| and
    * `jaccard_bp` = 10⁴·cn / (da + db − cn − 2) (neighborhoods
    * excluding the endpoints themselves; degenerate divisor → 0).
    *
    * cn per edge IS the triangle count through that edge, so this
    * reuses the degree-oriented enumeration ([[orientedTriangles]] —
    * fan-out bounded by oriented out-degree, hub-safe) instead of an
    * adjacency self-join whose cost is Σ deg² on the very hubs a
    * report graph has. Each triangle contributes to its 3 edges; one
    * explode + count, two broadcast-scale degree joins. All-integer ⇒
    * oracle-gated.
    */
  def edgeJaccard(s: SparkSession, dir: String): DataFrame =
    edgeJaccardOf(undirectedEdges(s, dir))

  private[graft] def edgeJaccardOf(und: DataFrame): DataFrame = {
    val tri = orientedTriangles(und)
    val triEdges = tri.select(explode(array(
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")),
        struct(least(col("x"), col("z")).as("a"),
          greatest(col("x"), col("z")).as("b")),
        struct(least(col("y"), col("z")).as("a"),
          greatest(col("y"), col("z")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    und.join(triEdges, Seq("a", "b"), "left")
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        coalesce(col("cn"), lit(0L)).as("cn"),
        col("da"), col("db"))
      .withColumn("jaccard_bp",
        when(col("da") + col("db") - col("cn") - 2 > 0,
          expr("10000 * cn DIV (da + db - cn - 2)")).otherwise(lit(0L)))
      .orderBy("a", "b")
  }

  val qEdgeJaccard: Q = Q(edgeJaccard _,
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |$triCteSql,
       |te AS (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS cn FROM (
       |    SELECT least(x, y) AS a, greatest(x, y) AS b FROM tri
       |    UNION ALL SELECT least(x, z), greatest(x, z) FROM tri
       |    UNION ALL SELECT least(y, z), greatest(y, z) FROM tri)
       |  GROUP BY a, b)
       |SELECT u.a AS a, u.b AS b, COALESCE(te.cn, 0) AS cn,
       |  da.d AS da, db.d AS db,
       |  CAST(CASE WHEN da.d + db.d - COALESCE(te.cn, 0) - 2 > 0
       |    THEN 10000 * COALESCE(te.cn, 0)
       |      // (da.d + db.d - COALESCE(te.cn, 0) - 2)
       |    ELSE 0 END AS BIGINT) AS jaccard_bp
       |FROM und u
       |LEFT JOIN te ON te.a = u.a AND te.b = u.b
       |JOIN deg da ON da.id = u.a
       |JOIN deg db ON db.id = u.b
       |ORDER BY a, b""".stripMargin)

  // ---------------------------------------------------------------- J9
  /** Hub-capped friend-of-friend recommendations — the 2-hop
    * "accounts you likely interact with" view (or, on the report
    * graph, "players co-reported with the ones you report"): for each
    * node, the top [[FofTopK]] NON-adjacent nodes ranked by shared
    * neighbors. The classic 2-path enumeration is Σ deg(m)² over
    * middle nodes m — quadratic on exactly the mega-hubs a power-law
    * graph has — so middles above [[FofHubCap]] degree are EXCLUDED
    * (the [[Dedup.MaxBucket]] occupancy stance applied to 2-paths): a
    * node adjacent to everyone "recommends" everyone to everyone,
    * carrying no signal while dominating the join. With the cap the
    * fan-out is ≤ cap per middle ⇒ O(E·cap) candidates total at any
    * corpus size. Ranking is a per-source row_number (n_common DESC,
    * candidate ASC) — the E26 heap operator serves the same plan at
    * scale. All-integer ⇒ oracle-gated.
    */
  val FofHubCap = 64
  val FofTopK = 5

  def fofReco(s: SparkSession, dir: String): DataFrame =
    fofRecoOf(undirectedEdges(s, dir))

  private[graft] def fofRecoOf(und: DataFrame): DataFrame = {
    val sym = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = sym.groupBy("node").agg(count(lit(1)).as("d"))
    val mids = sym.join(deg.filter(col("d") <= FofHubCap), "node")
      .select(col("node").as("mid"), col("nbr"))
    val pairs = mids.select(col("mid"), col("nbr").as("pa"))
      .join(mids.select(col("mid"), col("nbr").as("pc")), "mid")
      .filter(col("pa") =!= col("pc"))
      .groupBy(col("pa").as("player_id"), col("pc").as("reco"))
      .agg(count(lit(1)).as("n_common"))
    val adj = und.select(col("a"), col("b"))
    val nonAdj = pairs.join(adj,
        least(col("player_id"), col("reco")) === col("a") &&
          greatest(col("player_id"), col("reco")) === col("b"),
        "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("player_id")
      .orderBy(col("n_common").desc, col("reco"))
    nonAdj.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= FofTopK)
      .orderBy("player_id", "rn")
  }

  val qFofReco: Q = Q(fofReco _,
    s"""WITH e AS MATERIALIZED ($edgesSql),
       |und AS (SELECT DISTINCT least(src, dst) AS a,
       |                        greatest(src, dst) AS b FROM e),
       |sym AS (SELECT a AS node, b AS nbr FROM und
       |        UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
       |        FROM sym GROUP BY node),
       |mids AS (SELECT s.node AS mid, s.nbr FROM sym s
       |         JOIN deg ON deg.node = s.node WHERE deg.d <= $FofHubCap),
       |pairs AS (
       |  SELECT m1.nbr AS player_id, m2.nbr AS reco,
       |         CAST(count(*) AS BIGINT) AS n_common
       |  FROM mids m1 JOIN mids m2 ON m2.mid = m1.mid
       |  WHERE m1.nbr <> m2.nbr
       |  GROUP BY m1.nbr, m2.nbr),
       |nonadj AS (
       |  SELECT p.* FROM pairs p
       |  WHERE NOT EXISTS (SELECT 1 FROM und u
       |    WHERE u.a = least(p.player_id, p.reco)
       |      AND u.b = greatest(p.player_id, p.reco)))
       |SELECT player_id, reco, n_common, rn FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY player_id
       |    ORDER BY n_common DESC, reco) AS BIGINT) AS rn
       |  FROM nonadj)
       |WHERE rn <= $FofTopK
       |ORDER BY player_id, rn""".stripMargin)

  val registry: Map[String, Q] = Map(
    "q_suspicion_rank" -> qSuspicionRank,
    "q_ppr" -> qPpr,
    "q_mutual_reports" -> qMutualReports,
    "q_report_triangles" -> qReportTriangles,
    "q_report_triangles_approx" -> qReportTrianglesApprox,
    "q_report_components" -> qReportComponents,
    "q_communities" -> qCommunities,
    "q_kcore" -> qKcore,
    "q_edge_jaccard" -> qEdgeJaccard,
    "q_fof_reco" -> qFofReco)
}
