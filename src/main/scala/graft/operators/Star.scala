package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.{Q, Tables}

/** Star-schema normalization — the reference's core write path
  * (ref src/app/controllers/report.py:76-314) re-expressed as
  * declarative plans:
  *
  *  - MySQL `INSERT ... WHERE NOT EXISTS` per dim  → DISTINCT (+ anti
  *    join against the existing dim) — map-side partial aggregation
  *    makes the DISTINCTs cheap, and the dims are tiny next to the
  *    fact, so at 100 TB only the fact's own DISTINCT shuffles.
  *  - AUTO_INCREMENT surrogate keys → contiguous ids in a stable
  *    order on the *dim* (never the fact), assigned via the
  *    partition-offset scheme ([[Ids.withOrderedId]]) — no dim, however
  *    large, ever funnels through a single-task global window.
  *  - fact re-key via dim joins → broadcast hash joins (dims small).
  *  - the player LRU cache (ref src/_cache.py) → broadcast join: the
  *    per-executor hash map IS the cache, minus invalidation.
  */
object Star {

  /** Broadcast ceiling for the resolve dim (r20): ~1M (id, name) rows
    * ≈ 40 MB — comfortably inside Spark's broadcast limits and the
    * per-executor hash-build budget; a corpus whose player dim proves
    * bigger joins by shuffle instead (the [[graft.operators.Dedup
    * .sizeGatedBroadcast]] stance, same constant scale).
    */
  val MaxBroadcastDimRows = 1000000L

  /** One equipment slot id: exact int64 mix of user and event ids. */
  private def slot(m1: Long, m2: Long) =
    Cleanse.clampSmallint((col("user_id") * m1 + col("event_id") * m2) % 40000L)

  /** Events enriched with the reference report's derived fields
    * (sighting triple, location tuple, gear ids) via exact int64
    * arithmetic — the hash-stable analog of the report payload.
    * Factored over any events-shaped DataFrame (batch or streaming).
    */
  private[graft] def enrich(df: DataFrame): DataFrame =
    // two projection steps, not a withColumn chain (one analysis per
    // call, paid on every micro-batch): `reported_id` reads the new
    // `k`, so `k` goes first and the JSON path is extracted once
    df
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumns(ListMap(
        "reporting_id" -> col("user_id"),
        "reported_id" -> col("k"),
        "manual_detect" -> col("event_id") % 2,
        "region_id" -> (lit(10000L) + col("user_id") % 500),
        "x_coord" -> (col("event_id") * 31) % 5000,
        "y_coord" -> (col("event_id") * 37) % 5000,
        "z_coord" -> col("event_id") % 4,
        "g_head" -> slot(7919L, 13L),
        "g_torso" -> slot(104729L, 17L),
        "g_weapon" -> slot(1299709L, 19L)))

  private[graft] def enriched(s: SparkSession, dir: String): DataFrame =
    enrich(Tables.events(s, dir))

  private val enrichedSql =
    """SELECT event_id, ts, user_id, event_type,
      |  CAST(props->>'k' AS BIGINT) AS k,
      |  user_id AS reporting_id,
      |  CAST(props->>'k' AS BIGINT) AS reported_id,
      |  event_id % 2 AS manual_detect,
      |  10000 + user_id % 500 AS region_id,
      |  (event_id*31) % 5000 AS x_coord,
      |  (event_id*37) % 5000 AS y_coord,
      |  event_id % 4 AS z_coord,
      |  CASE WHEN (user_id*7919 + event_id*13) % 40000 > 32767 THEN 0
      |       ELSE (user_id*7919 + event_id*13) % 40000 END AS g_head,
      |  CASE WHEN (user_id*104729 + event_id*17) % 40000 > 32767 THEN 0
      |       ELSE (user_id*104729 + event_id*17) % 40000 END AS g_torso,
      |  CASE WHEN (user_id*1299709 + event_id*19) % 40000 > 32767 THEN 0
      |       ELSE (user_id*1299709 + event_id*19) % 40000 END AS g_weapon
      |FROM events""".stripMargin

  // ---------------------------------------------------------------- C1
  /** get-or-insert (ref player.py:60-71): incoming keys anti-joined
    * against the existing dim; survivors get ids continuing after the
    * current max via the partition-offset scheme ([[Ids.withOrderedId]]
    * — no single-task global window).
    */
  val rDimBuild: Q = Q(
    (s, dir) => {
      val existing = Tables.customer(s, dir)
        .select(col("c_custkey").as("player_id"))
      val incoming = Tables.events(s, dir)
        .select((col("user_id") * 13).as("user_key")).distinct()
      val newKeys = incoming.join(
        existing, incoming("user_key") === existing("player_id"), "left_anti")
      val maxId = existing.agg(max("player_id").as("max_id"))
      Ids.withOrderedId(newKeys, Seq("user_key"), "idx")
        .crossJoin(broadcast(maxId))
        .select(col("user_key"),
          (col("max_id") + col("idx")).cast("long").as("player_id"))
        .orderBy("user_key")
    },
    """WITH incoming AS (SELECT DISTINCT user_id*13 AS user_key FROM events),
      |newk AS (SELECT user_key FROM incoming
      |         WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                           WHERE c.c_custkey = incoming.user_key)),
      |mx AS (SELECT MAX(c_custkey) AS max_id FROM customer)
      |SELECT user_key,
      |  CAST(max_id + row_number() OVER (ORDER BY user_key NULLS FIRST)
      |    AS BIGINT)
      |    AS player_id
      |FROM newk, mx ORDER BY user_key NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- C2
  /** report_sighting dim (ref report.py:170-186, 01_tables.sql
    * unique_sighting): DISTINCT triple + surrogate id — assigned
    * partition-offset ([[Ids.withOrderedId]]): this dim's distinct
    * count tracks the fact, so a global-window id would funnel a
    * fact-sized distinct through one task at scale.
    */
  val rDimSighting: Q = Q(
    (s, dir) =>
      Ids.withOrderedId(
          enriched(s, dir)
            .select("reporting_id", "reported_id", "manual_detect").distinct(),
          Seq("reporting_id", "reported_id", "manual_detect"), "sighting_id")
        .select("sighting_id", "reporting_id", "reported_id", "manual_detect")
        .orderBy("sighting_id"),
    s"""WITH e AS ($enrichedSql),
       |d AS (SELECT DISTINCT reporting_id, reported_id, manual_detect FROM e)
       |SELECT CAST(row_number() OVER
       |         (ORDER BY reporting_id NULLS FIRST, reported_id NULLS FIRST,
       |          manual_detect NULLS FIRST) AS BIGINT)
       |         AS sighting_id,
       |       reporting_id, reported_id, manual_detect
       |FROM d ORDER BY sighting_id""".stripMargin)

  // ---------------------------------------------------------------- C3
  /** NOT-EXISTS insert filter (ref report.py:175-185) → left_anti:
    * triples arriving in the "new" slice that the "existing" slice has
    * never seen.
    */
  val rFactAntijoin: Q = Q(
    (s, dir) => {
      val e = enriched(s, dir)
      val incoming = e.filter(col("event_id") % 3 === 0)
        .select("reporting_id", "event_type", "reported_id").distinct()
      val existing = e.filter(col("event_id") % 3 =!= 0)
        .select("reporting_id", "event_type", "reported_id").distinct()
      incoming.join(existing,
          Seq("reporting_id", "event_type", "reported_id"), "left_anti")
        .orderBy("reporting_id", "event_type", "reported_id")
    },
    s"""WITH e AS ($enrichedSql),
       |inc AS (SELECT DISTINCT reporting_id, event_type, reported_id
       |        FROM e WHERE event_id % 3 = 0),
       |ex AS (SELECT DISTINCT reporting_id, event_type, reported_id
       |       FROM e WHERE event_id % 3 <> 0)
       |SELECT i.* FROM inc i
       |WHERE NOT EXISTS (SELECT 1 FROM ex x
       |  WHERE x.reporting_id = i.reporting_id
       |    AND x.event_type = i.event_type
       |    AND x.reported_id = i.reported_id)
       |ORDER BY reporting_id NULLS FIRST, event_type NULLS FIRST,
       |  reported_id NULLS FIRST""".stripMargin)

  // ---------------------------------------------------------------- C4
  /** Full star normalize (ref report.py:253-314 `insert_report`):
    * build the three dims, broadcast them, re-key the fact to
    * surrogate ids. The flagship pipeline. All three dim ids are
    * partition-offset ([[Ids.withOrderedId]]) — the location dim is a
    * function of `event_id`, so its distinct count grows linearly
    * with the fact and a global-window id would not survive a 100×
    * scale-up. The checkpoint inside the helper also keeps the three
    * broadcast builds from replanning the distincts over the fact.
    */
  val rFactAssemble: Q = Q(
    (s, dir) => {
      val e = enriched(s, dir)
      // the three dim builds are INDEPENDENT eager pipelines (each
      // ends in Ids' blocking checkpoint + stamping pass over its own
      // distinct of the fact) — submit them from a thread pool so the
      // three fact scans and checkpoints overlap instead of running
      // back to back (guide §2.6 "overlap independent jobs"; r21:
      // the serialized builds were ~2/3 of the query's wall). Ids are
      // unchanged — each build is deterministic in isolation.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val dims = Await.result(Future.sequence(Seq(
        Future(Ids.withOrderedId(
          e.select("reporting_id", "reported_id", "manual_detect")
            .distinct(),
          Seq("reporting_id", "reported_id", "manual_detect"),
          "sighting_id")),
        Future(Ids.withOrderedId(
          e.select("region_id", "x_coord", "y_coord", "z_coord")
            .distinct(),
          Seq("region_id", "x_coord", "y_coord", "z_coord"),
          "location_id")),
        Future(Ids.withOrderedId(
          e.select("g_head", "g_torso", "g_weapon").distinct(),
          Seq("g_head", "g_torso", "g_weapon"), "gear_id")))),
        Duration.Inf)
      val Seq(sighting, location, gear) = dims
      e.join(broadcast(sighting),
          Seq("reporting_id", "reported_id", "manual_detect"))
        .join(broadcast(location),
          Seq("region_id", "x_coord", "y_coord", "z_coord"))
        .join(broadcast(gear), Seq("g_head", "g_torso", "g_weapon"))
        .select(col("event_id"), col("sighting_id"), col("location_id"),
          col("gear_id"), col("ts").as("reported_at"))
        .orderBy("event_id")
    },
    s"""WITH e AS ($enrichedSql),
       |sighting AS (
       |  SELECT CAST(row_number() OVER
       |    (ORDER BY reporting_id NULLS FIRST, reported_id NULLS FIRST,
       |     manual_detect NULLS FIRST) AS BIGINT)
       |    AS sighting_id, reporting_id, reported_id, manual_detect
       |  FROM (SELECT DISTINCT reporting_id, reported_id, manual_detect
       |        FROM e)),
       |location AS (
       |  SELECT CAST(row_number() OVER
       |    (ORDER BY region_id NULLS FIRST, x_coord NULLS FIRST,
       |     y_coord NULLS FIRST, z_coord NULLS FIRST) AS BIGINT)
       |    AS location_id, region_id, x_coord, y_coord, z_coord
       |  FROM (SELECT DISTINCT region_id, x_coord, y_coord, z_coord FROM e)),
       |gear AS (
       |  SELECT CAST(row_number() OVER
       |    (ORDER BY g_head NULLS FIRST, g_torso NULLS FIRST,
       |     g_weapon NULLS FIRST) AS BIGINT) AS gear_id,
       |    g_head, g_torso, g_weapon
       |  FROM (SELECT DISTINCT g_head, g_torso, g_weapon FROM e))
       |SELECT e.event_id, s.sighting_id, l.location_id, g.gear_id,
       |       e.ts AS reported_at
       |FROM e
       |JOIN sighting s ON s.reporting_id = e.reporting_id
       |  AND s.reported_id = e.reported_id
       |  AND s.manual_detect = e.manual_detect
       |JOIN location l ON l.region_id = e.region_id
       |  AND l.x_coord = e.x_coord AND l.y_coord = e.y_coord
       |  AND l.z_coord = e.z_coord
       |JOIN gear g ON g.g_head = e.g_head AND g.g_torso = e.g_torso
       |  AND g.g_weapon = e.g_weapon
       |ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- C5
  /** INSERT IGNORE / unique-key first-wins (ref 01_tables.sql
    * Unique_Report) → keep the latest row per natural key.
    */
  val rUpsertLatest: Q = Q(
    (s, dir) => {
      // "latest report wins" is k=1 of the PerKeyTopK whole-operator
      // (plans/TopK.scala): bounded per-key state instead of the
      // window plan's full per-partition sort — at 100 TB the sort
      // (and its spill) is the entire cost of this read. Same rows,
      // same oracle; TopKPlanSpec pins plan + equivalence.
      graft.plans.TopK.enable(s)
      graft.plans.TopK.perKey(
        Tables.events(s, dir)
          .select("user_id", "event_id", "event_type", "value", "ts"),
        Seq(col("user_id")),
        Seq(col("ts").desc, col("event_id").desc), 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy("user_id")
    },
    """SELECT user_id, last_event_id, last_type, last_value FROM (
      |  SELECT user_id, event_id AS last_event_id,
      |         event_type AS last_type, value AS last_value,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)

  // ---------------------------------------------------------------- C6
  /** The LRU player cache (ref src/_cache.py) re-expressed: broadcast
    * the dim; every executor holds the whole "cache", zero round
    * trips, zero invalidation.
    */
  val rCacheJoin: Q = Q(
    (s, dir) =>
      Tables.events(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          (sum(col("value").cast("decimal(12,2)")) * 100).cast("long")
            .as("sum_value"))
        .orderBy("c_mktsegment"),
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)

  // --------------------------------------------------------- C7 setup
  /** The reference's FULL report payload (views/report.py:15-38): all
    * 9 equipment slots plus the world flags, derived with exact int64
    * arithmetic from the events stream.
    */
  private[graft] def enrichFull(df: DataFrame): DataFrame =
    enrich(df).withColumns(ListMap(
      "g_amulet" -> slot(7907L, 23L),
      "g_legs" -> slot(7901L, 29L),
      "g_boots" -> slot(7883L, 31L),
      "g_cape" -> slot(7879L, 37L),
      "g_hands" -> slot(7873L, 41L),
      "g_shield" -> slot(7867L, 43L),
      "on_members_world" -> col("user_id") % 2L,
      "on_pvp_world" -> when(col("user_id") % 5L === 0L, 1L).otherwise(0L),
      "world_number" -> (lit(301L) + col("user_id") % 200L),
      "equip_ge_value" -> (col("event_id") * 9973L) % 1000000L))

  private[operators] def enrichedFull(s: SparkSession, dir: String): DataFrame =
    enrichFull(Tables.events(s, dir))

  private def slotSql(name: String, m1: Long, m2: Long): String =
    s"""CASE WHEN (user_id*$m1 + event_id*$m2) % 40000 > 32767 THEN 0
       |       ELSE (user_id*$m1 + event_id*$m2) % 40000 END AS $name"""
      .stripMargin

  private val enrichedFullSql =
    s"""SELECT *,
       |  ${slotSql("g_amulet", 7907L, 23L)},
       |  ${slotSql("g_legs", 7901L, 29L)},
       |  ${slotSql("g_boots", 7883L, 31L)},
       |  ${slotSql("g_cape", 7879L, 37L)},
       |  ${slotSql("g_hands", 7873L, 41L)},
       |  ${slotSql("g_shield", 7867L, 43L)},
       |  user_id % 2 AS on_members_world,
       |  CAST(CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS on_pvp_world,
       |  301 + user_id % 200 AS world_number,
       |  (event_id*9973) % 1000000 AS equip_ge_value
       |FROM ($enrichedSql)""".stripMargin

  /** All 9 equipment slots, reference order (report.py:188-208). */
  private val gearCols = Seq("g_head", "g_amulet", "g_torso", "g_legs",
    "g_boots", "g_cape", "g_hands", "g_weapon", "g_shield")

  /** Hash surrogate id: first 60 bits of md5 over the natural key.
    * This is the id scheme that actually scales — deterministic, pure
    * map-side, no global row_number window funneling the dim through
    * one task (the ≥1e8 escape hatch documented above, built). md5 is
    * reproducible on both engines, so the ids stay oracle-checkable;
    * 60-bit collisions at 1e8 keys: p ≈ 4e-3 per full dim, and a
    * collision only merges two dim rows (detectable by count).
    */
  def hashId(cols: Seq[String]): Column =
    conv(substring(md5(concat_ws("|", cols.map(col): _*)), 1, 15), 16, 10)
      .cast("long")

  private def hashIdSql(cols: Seq[String]): String =
    s"CAST('0x' || substr(md5(concat_ws('|', ${cols.mkString(", ")})), 1, 15) AS BIGINT)"

  // ---------------------------------------------------------------- C8
  /** The 9-slot gear dimension (ref report.py:186-225): DISTINCT over
    * all 9 equipment columns with hash surrogate ids — the dim is one
    * map-side-combinable DISTINCT, no window, no second shuffle.
    */
  val rDimGear9: Q = Q(
    (s, dir) =>
      enrichedFull(s, dir)
        .select(gearCols.map(col): _*).distinct()
        .withColumn("gear_id", hashId(gearCols))
        .select(("gear_id" +: gearCols).map(col): _*)
        .orderBy("gear_id"),
    s"""WITH e AS ($enrichedFullSql),
       |d AS (SELECT DISTINCT ${gearCols.mkString(", ")} FROM e)
       |SELECT ${hashIdSql(gearCols)} AS gear_id, ${gearCols.mkString(", ")}
       |FROM d ORDER BY gear_id""".stripMargin)

  // ---------------------------------------------------------------- C7
  /** Full-width star normalize (ref report.py:253-314 with the real
    * column set): 9-slot gear dedup + the world fields the fact keeps
    * (on_members_world / on_pvp_world / world_number / region_id —
    * region_id is denormalized into the fact exactly like the
    * reference). ALL THREE dim keys (gear, sighting, location) are
    * hash surrogates computed inline on the fact row — re-keying the
    * fact costs ZERO joins, zero windows, zero shuffles: the fact
    * assembly is a pure map over the event scan, which is the shape
    * that holds at 100 TB (the row_number-keyed variant lives on as
    * C4 `r_fact_assemble`, matching the reference's AUTO_INCREMENT
    * semantics for small dims).
    */
  private val sightingCols = Seq("reporting_id", "reported_id", "manual_detect")
  private val locationCols = Seq("region_id", "x_coord", "y_coord", "z_coord")

  /** The fact projection over any events-shaped frame (batch OR a
    * streaming micro-batch — the streaming star pipeline reuses it
    * verbatim): pure map, no joins, no windows.
    */
  private[graft] def factProjection(df: DataFrame): DataFrame =
    enrichFull(df)
      .withColumns(ListMap(
        "sighting_id" -> hashId(sightingCols),
        "location_id" -> hashId(locationCols),
        "gear_id" -> hashId(gearCols)))
      .select(col("event_id"), col("sighting_id"), col("location_id"),
        col("gear_id"), col("ts").as("reported_at"),
        col("on_members_world"), col("on_pvp_world"), col("world_number"),
        col("region_id"), col("equip_ge_value"))

  val rFactFull: Q = Q(
    (s, dir) =>
      factProjection(Tables.events(s, dir)).orderBy("event_id"),
    s"""WITH e AS ($enrichedFullSql)
       |SELECT event_id,
       |       ${hashIdSql(sightingCols)} AS sighting_id,
       |       ${hashIdSql(locationCols)} AS location_id,
       |       ${hashIdSql(gearCols)} AS gear_id,
       |       ts AS reported_at, on_members_world, on_pvp_world,
       |       world_number, region_id, equip_ge_value
       |FROM e
       |ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- C9
  /** The v1 resolution pipeline — the heart of the reference's v1
    * flow (main.py:100-123 + player.py:60-71): a v1 message carries
    * reporter/reported NAMES; both are sanitized, resolved through
    * the player dim with get-or-insert (new names appended after the
    * current max id), and the fact is keyed by the resulting
    * (reporting_id, reported_id). Reporter names arrive with caps /
    * padding noise (exercising sanitize); reported names derive from
    * k*31, so roughly half fall outside the existing dim and take the
    * insert path. The dim join is broadcast — the reference's LRU
    * cache (\_cache.py) as a per-executor hash map.
    *
    * New-name ids come from [[Ids.withOrderedId]] (partition-offset
    * zipWithIndex, keeping the after-max-id contiguous semantics of
    * ref player.py:60-71) — NOT a global `row_number` window. The
    * helper eagerly local-checkpoints the sorted new-name set, which
    * also truncates lineage: the dim feeds TWO broadcast exchanges
    * (reporter + reported side), and a plain `cache()` does not stop
    * each broadcast from replanning the whole distinct + anti-join +
    * id-assignment subplan (measured 6× baseline cost at sf0.1 in the
    * cached global-window form).
    */
  val rResolveV1: Q = Q(
    (s, dir) => {
      // Par.fan: the JSON parse + two sanitize chains below are the
      // resolve pipeline's per-row cost (r20 profile: 968 ms on one
      // task); gated fan-out, no-op on a wide fact scan
      val msgs = Par.fan(Tables.events(s, dir), col("event_id"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        // a message without a reported player cannot resolve — the
        // reference raises ReportedDoesNotExist and dead-letters it
        // (main.py:113-116); silently keeping the null would also
        // diverge cross-engine (Spark sorts nulls first in the
        // new-id window, DuckDB last)
        .filter(col("k").isNotNull)
        .select(col("event_id"),
          Cleanse.sanitizeName(concat(lit("  CUSTOMER#"),
            lpad(col("user_id").cast("string"), 9, "0"), lit(" ")))
            .as("reporter_name"),
          Cleanse.sanitizeName(concat(lit("Customer#"),
            lpad((col("k") * 31L).cast("string"), 9, "0")))
            .as("reported_name"))
      val players = Tables.customer(s, dir)
        .select(col("c_custkey").as("player_id"),
          Cleanse.sanitizeName(col("c_name")).as("name"))
      val names = msgs.select(col("reporter_name").as("name"))
        .unionAll(msgs.select(col("reported_name").as("name")))
        .distinct()
      val newNames = names.join(players, Seq("name"), "left_anti")
      val maxId = players.agg(max("player_id").as("max_id"))
      val newIds = Ids.withOrderedId(newNames, Seq("name"), "idx")
      val newPlayers = newIds
        .crossJoin(broadcast(maxId))
        .select((col("max_id") + col("idx")).cast("long").as("player_id"),
          col("name"))
      val dim = players.unionByName(newPlayers)
      // SIZE-GATED dim broadcast (r20 — the F9/F11 judgment applied
      // here): the player dim grows WITH the corpus (TPC-H dims scale
      // with facts, and ~half the reported names take the insert
      // path), so a forced broadcast is wrong past a few hundred MB —
      // and it measured as this line's whole decade superlinearity
      // (solo REPEAT=2 at sf10: 64.9 s normalized, exp 1.06, a ~2M-row
      // dim collected to the driver and hash-built twice per thread).
      // Both inputs are cheap to count: players is a parquet
      // metadata count, newIds rides withOrderedId's localCheckpoint.
      // Within the gate (~40 MB of (id, name)) the broadcast keeps
      // the map-only plan; past it the two joins shuffle — linear at
      // any corpus size.
      val dimSmall =
        players.count() + newIds.count() <= MaxBroadcastDimRows
      def gated(df: org.apache.spark.sql.DataFrame) =
        if (dimSmall) broadcast(df) else df
      msgs
        .join(gated(dim.select(col("player_id").as("reporting_id"),
          col("name").as("reporter_name"))), Seq("reporter_name"))
        .join(gated(dim.select(col("player_id").as("reported_id"),
          col("name").as("reported_name"))), Seq("reported_name"))
        .select("event_id", "reporting_id", "reported_id")
        .orderBy("event_id")
    },
    """WITH msgs AS (
      |  SELECT event_id,
      |    trim(replace(replace(lower('  CUSTOMER#' ||
      |      lpad(CAST(user_id AS VARCHAR), 9, '0') || ' '),
      |      '_', ' '), '-', ' ')) AS reporter_name,
      |    trim(replace(replace(lower('Customer#' ||
      |      lpad(CAST(CAST(props->>'k' AS BIGINT) * 31 AS VARCHAR), 9, '0')),
      |      '_', ' '), '-', ' ')) AS reported_name
      |  FROM events
      |  WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL),
      |players AS (
      |  SELECT c_custkey AS player_id,
      |    trim(replace(replace(lower(c_name), '_', ' '), '-', ' ')) AS name
      |  FROM customer),
      |names AS (
      |  SELECT DISTINCT name FROM (
      |    SELECT reporter_name AS name FROM msgs
      |    UNION ALL SELECT reported_name FROM msgs)),
      |newn AS (
      |  SELECT name FROM names
      |  WHERE NOT EXISTS (SELECT 1 FROM players p WHERE p.name = names.name)),
      |mx AS (SELECT max(player_id) AS max_id FROM players),
      |newp AS (
      |  SELECT CAST(max_id + row_number() OVER (ORDER BY name NULLS FIRST)
      |    AS BIGINT) AS player_id, name
      |  FROM newn, mx),
      |dim AS (SELECT * FROM players UNION ALL SELECT * FROM newp)
      |SELECT event_id, r1.player_id AS reporting_id,
      |       r2.player_id AS reported_id
      |FROM msgs
      |JOIN dim r1 ON r1.name = msgs.reporter_name
      |JOIN dim r2 ON r2.name = msgs.reported_name
      |ORDER BY event_id""".stripMargin)

  // ---------------------------------------------------------------- C10
  /** The heatmap read — the query the reference's MySQL serves off
    * `idx_heatmap (region_id, x_coord, y_coord, z_coord)`
    * (01_tables.sql): report density per 100×100 map tile. One
    * map-side-combinable groupBy over the fact; the tile keys are the
    * partition-prunable columns a lake layout would sort by.
    */
  val qHeatmap: Q = Q(
    (s, dir) =>
      enrichedFull(s, dir)
        .groupBy(col("region_id"),
          (col("x_coord") - col("x_coord") % 100).as("tile_x"),
          (col("y_coord") - col("y_coord") % 100).as("tile_y"))
        .agg(count(lit(1)).as("n_reports"),
          countDistinct("reported_id").as("n_reported"),
          sum("manual_detect").as("n_manual"))
        .orderBy("region_id", "tile_x", "tile_y"),
    s"""WITH e AS ($enrichedFullSql)
       |SELECT region_id, x_coord - x_coord % 100 AS tile_x,
       |  y_coord - y_coord % 100 AS tile_y,
       |  CAST(count(*) AS BIGINT) AS n_reports,
       |  CAST(count(DISTINCT reported_id) AS BIGINT) AS n_reported,
       |  CAST(sum(manual_detect) AS BIGINT) AS n_manual
       |FROM e GROUP BY 1, 2, 3
       |ORDER BY region_id, tile_x, tile_y""".stripMargin)

  // ---------------------------------------------------------------- C11
  /** World-flag stats — the read over the report fields the reference
    * carries per row (views/report.py: on_members_world /
    * on_pvp_world / world_number / equip_ge_value): report volume and
    * gear value mass per world class. One tiny grouped agg.
    */
  val qWorldStats: Q = Q(
    (s, dir) =>
      enrichedFull(s, dir)
        .groupBy("on_members_world", "on_pvp_world")
        .agg(count(lit(1)).as("n_reports"),
          countDistinct("world_number").as("n_worlds"),
          sum("equip_ge_value").as("total_ge_value"))
        .orderBy("on_members_world", "on_pvp_world"),
    s"""WITH e AS ($enrichedFullSql)
       |SELECT on_members_world, on_pvp_world,
       |  CAST(count(*) AS BIGINT) AS n_reports,
       |  CAST(count(DISTINCT world_number) AS BIGINT) AS n_worlds,
       |  CAST(sum(equip_ge_value) AS BIGINT) AS total_ge_value
       |FROM e GROUP BY on_members_world, on_pvp_world
       |ORDER BY on_members_world, on_pvp_world""".stripMargin)

  /** C11's scale path: the same world panel with the exact
    * count(DISTINCT world_number) swapped for approx_count_distinct
    * (HLL++, rsd 2%). Exact distinct shuffles every distinct value
    * per group; the sketch is a few KB of fixed state per group that
    * merges map-side — at 100 TB the distinct-worlds panel becomes
    * one cheap combinable pass. Sketch estimates aren't cross-engine
    * hash-stable, so this twin is ScalaTest-pinned to C11's exact
    * counts (±5%) instead of oracle-gated.
    */
  def worldStatsApprox(s: SparkSession, dir: String): DataFrame =
    enrichedFull(s, dir)
      .groupBy("on_members_world", "on_pvp_world")
      .agg(count(lit(1)).as("n_reports"),
        approx_count_distinct("world_number", 0.02).as("n_worlds"),
        sum("equip_ge_value").as("total_ge_value"))
      .orderBy("on_members_world", "on_pvp_world")

  // ---------------------------------------------------------------- C15
  /** The reference's ACTUAL `idx_heatmap` column set — (reportedID,
    * timestamp, region_id), ref 01_tables.sql:92-96 — as the
    * time-series read it serves: daily report volume per region with
    * distinct-target counts. `date_trunc` keys + region make this the
    * partition-prunable lake layout for the report fact (C10's
    * tile-grid variant covers the spatial read).
    */
  val qHeatmapDaily: Q = Q(
    (s, dir) =>
      enriched(s, dir)
        .filter(col("reported_id").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("region_id"))
        .agg(count(lit(1)).as("n_reports"),
          countDistinct("reported_id").as("n_reported"),
          sum("manual_detect").as("n_manual"))
        .orderBy("day", "region_id"),
    s"""WITH e AS ($enrichedSql)
       |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, region_id,
       |  CAST(count(*) AS BIGINT) AS n_reports,
       |  CAST(count(DISTINCT reported_id) AS BIGINT) AS n_reported,
       |  CAST(sum(manual_detect) AS BIGINT) AS n_manual
       |FROM e WHERE reported_id IS NOT NULL
       |GROUP BY date_trunc('day', ts), region_id
       |ORDER BY day, region_id""".stripMargin)

  // -------------------------------------------------------- C12 setup
  /** The reference's full `Players` row (ref mysql/.../01_tables.sql:3-24):
    * ban/label/ironman state plus `normalized_name` alongside the raw
    * name. `customer` stands in for the stored dim; the state columns
    * are exact int64 functions of the key so every oracle stays
    * hash-exact. All flags are BIGINT 0/1 (tinyint in the reference).
    */
  private[graft] def playersWide(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("player_id"),
      col("c_name").as("name"),
      Cleanse.sanitizeName(col("c_name")).as("normalized_name"),
      when(col("c_custkey") % 5 === 0, 1L).otherwise(0L).as("possible_ban"),
      when(col("c_custkey") % 10 === 0, 1L).otherwise(0L).as("confirmed_ban"),
      when(col("c_custkey") % 10 === 5, 1L).otherwise(0L)
        .as("confirmed_player"),
      (col("c_custkey") % 25).as("label_id"),
      (col("c_custkey") % 4).as("label_jagex"),
      when(col("c_custkey") % 3 === 0, 1L).otherwise(0L).as("ironman"),
      when(col("c_custkey") % 9 === 0, 1L).otherwise(0L)
        .as("hardcore_ironman"),
      when(col("c_custkey") % 27 === 0, 1L).otherwise(0L)
        .as("ultimate_ironman"))

  private val playersWideSql =
    """SELECT c_custkey AS player_id, c_name AS name,
      |  trim(replace(replace(lower(c_name), '_', ' '), '-', ' '))
      |    AS normalized_name,
      |  CAST(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS possible_ban,
      |  CAST(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS confirmed_ban,
      |  CAST(CASE WHEN c_custkey % 10 = 5 THEN 1 ELSE 0 END AS BIGINT)
      |    AS confirmed_player,
      |  c_custkey % 25 AS label_id,
      |  c_custkey % 4 AS label_jagex,
      |  CAST(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS ironman,
      |  CAST(CASE WHEN c_custkey % 9 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS hardcore_ironman,
      |  CAST(CASE WHEN c_custkey % 27 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS ultimate_ironman
      |FROM customer""".stripMargin

  private val playersWideCols = Seq("player_id", "name", "normalized_name",
    "possible_ban", "confirmed_ban", "confirmed_player", "label_id",
    "label_jagex", "ironman", "hardcore_ironman", "ultimate_ironman")

  // ---------------------------------------------------------------- C12
  /** Full-width player upsert — get-or-insert over the reference's
    * whole `Players` row (ref player.py:55-72 insert/get_or_insert,
    * 01_tables.sql:3-24) INCLUDING timestamp maintenance: players
    * re-seen in this batch get `updated_at` = their latest sighting
    * (ref `updated_at` column, maintained on update), never-seen
    * players keep it NULL, and brand-new names are appended after the
    * current max id (ids via the partition-offset scheme, no global
    * window) with `created_at` = their first sighting and the
    * reference's column defaults (all state 0 — `INSERT IGNORE`
    * writes only the name). One grouped agg over the batch + one
    * broadcast-sized dim pass; scales with the batch, not the dim.
    */
  val rPlayerUpsert: Q = Q(
    (s, dir) => {
      val sightings = Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .filter(col("k").isNotNull)
        .select(Cleanse.sanitizeName(concat(lit("Customer#"),
            lpad((col("k") * 31L).cast("string"), 9, "0")))
            .as("normalized_name"),
          col("ts"))
        .groupBy("normalized_name")
        .agg(min("ts").as("first_seen"), max("ts").as("last_seen"))
      val existing = playersWide(s, dir)
      val updated = existing
        .join(broadcast(sightings.select("normalized_name", "last_seen")),
          Seq("normalized_name"), "left")
        .withColumn("created_at", lit(null).cast("timestamp"))
        .withColumn("updated_at", col("last_seen"))
      val maxId = existing.agg(max("player_id").as("max_id"))
      val newNames = sightings
        .join(existing.select("normalized_name"),
          Seq("normalized_name"), "left_anti")
      val inserted = Ids.withOrderedId(newNames, Seq("normalized_name"), "idx")
        .crossJoin(broadcast(maxId))
        .select(
          (col("max_id") + col("idx")).cast("long").as("player_id"),
          // insert() sanitizes before writing, so name == normalized
          col("normalized_name").as("name"),
          col("normalized_name"),
          lit(0L).as("possible_ban"), lit(0L).as("confirmed_ban"),
          lit(0L).as("confirmed_player"), lit(0L).as("label_id"),
          lit(0L).as("label_jagex"), lit(0L).as("ironman"),
          lit(0L).as("hardcore_ironman"), lit(0L).as("ultimate_ironman"),
          col("first_seen").as("created_at"),
          lit(null).cast("timestamp").as("updated_at"))
      val outCols = (playersWideCols ++ Seq("created_at", "updated_at"))
        .map(col)
      updated.select(outCols: _*)
        .unionByName(inserted.select(outCols: _*))
        .orderBy("player_id")
    },
    s"""WITH sightings AS (
       |  SELECT trim(replace(replace(lower('Customer#' ||
       |      lpad(CAST(CAST(props->>'k' AS BIGINT) * 31 AS VARCHAR), 9, '0')),
       |      '_', ' '), '-', ' ')) AS normalized_name,
       |    min(ts) AS first_seen, max(ts) AS last_seen
       |  FROM events WHERE CAST(props->>'k' AS BIGINT) IS NOT NULL
       |  GROUP BY 1),
       |players AS ($playersWideSql),
       |mx AS (SELECT max(player_id) AS max_id FROM players),
       |newn AS (
       |  SELECT * FROM sightings
       |  WHERE NOT EXISTS (SELECT 1 FROM players p
       |                    WHERE p.normalized_name = sightings.normalized_name))
       |SELECT p.player_id, p.name, p.normalized_name, p.possible_ban,
       |  p.confirmed_ban, p.confirmed_player, p.label_id, p.label_jagex,
       |  p.ironman, p.hardcore_ironman, p.ultimate_ironman,
       |  CAST(NULL AS TIMESTAMP) AS created_at, s.last_seen AS updated_at
       |FROM players p LEFT JOIN sightings s USING (normalized_name)
       |UNION ALL
       |SELECT CAST(max_id + row_number() OVER
       |    (ORDER BY normalized_name NULLS FIRST)
       |    AS BIGINT) AS player_id,
       |  normalized_name AS name, normalized_name,
       |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |  first_seen AS created_at, CAST(NULL AS TIMESTAMP) AS updated_at
       |FROM newn, mx
       |ORDER BY player_id""".stripMargin)

  // ---------------------------------------------------------------- C13
  /** The `confirmed_ban_idx` access path (ref 01_tables.sql:21
    * `KEY confirmed_ban_idx (confirmed_ban)`, and the
    * `Players_possible_ban_IDX` composite): ban-state reads over the
    * wide dim. The filter reaches the parquet scan as a pushed
    * predicate — the lake analog of the MySQL secondary index.
    */
  val qBanFlags: Q = Q(
    (s, dir) =>
      playersWide(s, dir)
        .filter(col("confirmed_ban") === 1)
        .groupBy("label_id")
        .agg(count(lit(1)).as("n_players"),
          sum("possible_ban").as("n_possible"),
          sum(col("ironman") + col("hardcore_ironman")
            + col("ultimate_ironman")).as("n_ironman"))
        .orderBy("label_id"),
    s"""WITH players AS ($playersWideSql)
       |SELECT label_id, CAST(count(*) AS BIGINT) AS n_players,
       |  CAST(sum(possible_ban) AS BIGINT) AS n_possible,
       |  CAST(sum(ironman + hardcore_ironman + ultimate_ironman) AS BIGINT)
       |    AS n_ironman
       |FROM players WHERE confirmed_ban = 1
       |GROUP BY label_id ORDER BY label_id""".stripMargin)

  // ---------------------------------------------------------------- C14
  /** The `Unique_Report` key the reference actually enforces on the
    * denormalized `Reports` table (ref 01_tables.sql:83-88: UNIQUE
    * (reportedID, reportingID, region_id, manual_detect)) — INSERT
    * IGNORE first-wins per 4-column natural key, keeping the earliest
    * report's payload. The window is PARTITIONED by the key (ordinary
    * hash shuffle; contrast C5's per-user variant) — no skew: the key
    * cardinality tracks the fact.
    */
  val rUpsertReport: Q = Q(
    (s, dir) => {
      val w = Window
        .partitionBy("reported_id", "reporting_id", "region_id",
          "manual_detect")
        .orderBy(col("ts").asc, col("event_id").asc)
      enriched(s, dir)
        .filter(col("reported_id").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("reported_id"), col("reporting_id"), col("region_id"),
          col("manual_detect"), col("event_id").as("report_id"),
          col("ts").as("created_at"),
          col("x_coord"), col("y_coord"), col("z_coord"))
        .orderBy("reported_id", "reporting_id", "region_id", "manual_detect")
    },
    s"""WITH e AS ($enrichedSql)
       |SELECT reported_id, reporting_id, region_id, manual_detect,
       |  event_id AS report_id, ts AS created_at, x_coord, y_coord, z_coord
       |FROM (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY reported_id, reporting_id, region_id, manual_detect
       |      ORDER BY ts, event_id) AS rn
       |  FROM e WHERE reported_id IS NOT NULL)
       |WHERE rn = 1
       |ORDER BY reported_id, reporting_id, region_id, manual_detect"""
      .stripMargin)

  // --------------------------------------------------------------- C16
  /** SCD Type-2 historization — the lakehouse answer to the
    * reference's in-place dimension UPDATE (`player.py:55-72`
    * overwrites `updated_at`; an auditable warehouse keeps every
    * version with a validity interval instead). Each user's event
    * stream collapses into state rows: a new version opens whenever
    * the observed state (event_type here) CHANGES, `valid_from` = the
    * change timestamp, `valid_to` = the next change (NULL = current
    * version — the open row a point-in-time join probes).
    *
    * Shape: one lag to detect changes + one lead over the surviving
    * change rows, both windows partitioned by `user_id` — never
    * global; state per user is one row, and at 100 TB the dim
    * history shuffles once on the same key the dim is stored under.
    */
  /** SCD2 build over an arbitrary (user_id, state, ts, event_id)
    * observation relation — shared by the from-scratch build (C16)
    * and the merge path's history bootstrap.
    */
  private[graft] def scd2Of(obs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ch = obs
      .withColumn("prev", lag("state", 1).over(w))
      .filter(col("prev").isNull || col("state") =!= col("prev"))
    val w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch.withColumn("valid_to", lead("ts", 1).over(w2))
      .select(col("user_id"), col("state"), col("ts").as("valid_from"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  private def scd2(s: SparkSession, dir: String): DataFrame =
    scd2Of(Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("state"),
        col("ts"), col("event_id")))

  val rDimScd2: Q = Q(
    (s, dir) => scd2(s, dir).orderBy("user_id", "valid_from", "state"),
    """WITH ch AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT user_id, state, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL AS is_current
      |FROM ch WHERE prev IS NULL OR state <> prev
      |ORDER BY user_id, valid_from, state""".stripMargin)

  // --------------------------------------------- C16 (MERGE maintenance)
  /** Incremental SCD2 maintenance — what production actually runs: the
    * history table stands; a batch of NEW observations merges in by
    * (1) collapsing the batch into change rows, where the batch's
    * FIRST row per user is compared against the user's standing OPEN
    * version (equal state ⇒ no new version), (2) closing the open
    * interval of every user that got a new version (`valid_to` = the
    * first new version's `valid_from`), and (3) appending the new
    * versions. Contract: each user's batch observations are LATER
    * than their standing history (append-only growth — the SCD2 merge
    * assumption everywhere; retro-dated data needs a rebuild of the
    * affected keys). Under it, merge(history, batch) is row-identical
    * to rebuilding over the concatenation — spec-pinned.
    *
    * Scale shape: every window is `user_id`-partitioned over the
    * BATCH only, and the standing history is touched by one left join
    * against the batch's per-user first-change row (`user_id`-keyed,
    * batch-sized ⇒ broadcastable) — the history is never re-windowed,
    * so maintenance cost is O(batch + touched keys), not O(history).
    */
  private[graft] def scd2Merge(existing: DataFrame,
      changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cur = existing.filter(col("is_current"))
      .select(col("user_id"), col("state").as("cur_state"))
    val ch = changes
      .withColumn("prev_in_batch", lag("state", 1).over(w))
      .join(cur, Seq("user_id"), "left")
      .withColumn("prev",
        coalesce(col("prev_in_batch"), col("cur_state")))
      .filter(col("prev").isNull || col("state") =!= col("prev"))
    val newRows = ch.withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("state"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
    val firstNew = newRows.groupBy("user_id")
      .agg(min("valid_from").as("close_at"))
    val closed = existing
      .join(firstNew, Seq("user_id"), "left")
      .select(col("user_id"), col("state"), col("valid_from"),
        when(col("is_current") && col("close_at").isNotNull,
          col("close_at")).otherwise(col("valid_to")).as("valid_to"),
        (col("is_current") && col("close_at").isNull).as("is_current"))
    closed.unionByName(newRows)
  }

  /** The merge path as an oracle-gated query: history = the SCD2
    * build over the first 80% of the event-time range, batch = the
    * remaining 20%, merged. The oracle is the FULL REBUILD over all
    * events — maintenance must be indistinguishable from rebuilding
    * (the same stance as `d_incr_clusters`). The cutoff is two
    * driver-side longs (min/max event time), not a data pass.
    */
  val rScd2Merge: Q = Q(
    (s, dir) => {
      val obs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("state"),
          col("ts"), col("event_id"))
      val r = obs.agg(unix_micros(min("ts")).as("mn"),
        unix_micros(max("ts")).as("mx")).head()
      val cutoff = timestamp_micros(
        lit(r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 5 * 4))
      val hist = scd2Of(obs.filter(col("ts") < cutoff))
      scd2Merge(hist, obs.filter(col("ts") >= cutoff))
        .orderBy("user_id", "valid_from", "state")
    },
    """WITH ch AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events)
      |SELECT user_id, state, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    AS valid_to,
      |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |    IS NULL AS is_current
      |FROM ch WHERE prev IS NULL OR state <> prev
      |ORDER BY user_id, valid_from, state""".stripMargin)

  // --------------------------------------------------------------- C17
  /** Point-in-time join over the SCD2 dimension — the read C16 exists
    * FOR: each purchase resolved against the user's dim version VALID
    * AT the purchase timestamp (`valid_from ≤ ts < valid_to`, open
    * row = NULL `valid_to`), i.e. "what state was this user in when
    * they bought". The user-id equality makes it a plain shuffled
    * equi-join with the interval as a post-condition — per-key work
    * bounded by that user's version count (E10's argument), and SCD2
    * intervals tile (spec-pinned in C16), so exactly ONE version
    * matches per event: the join is provably 1:1, no dedup pass.
    */
  val qPitJoin: Q = Q(
    (s, dir) => {
      val p = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value"))
      val dim = scd2(s, dir)
        .select(col("user_id").as("d_uid"), col("state"),
          col("valid_from"), col("valid_to"))
      p.join(dim,
          col("user_id") === col("d_uid") &&
            col("ts") >= col("valid_from") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("state").as("state_at_purchase"))
        .orderBy("event_id")
    },
    """WITH ch AS (
      |  SELECT user_id, event_type AS state, ts, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev
      |  FROM events),
      |scd AS (
      |  SELECT user_id, state, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM ch WHERE prev IS NULL OR state <> prev)
      |SELECT e.event_id, e.user_id, e.ts,
      |  d.state AS state_at_purchase
      |FROM events e JOIN scd d
      |  ON e.user_id = d.user_id AND e.ts >= d.valid_from
      |  AND (d.valid_to IS NULL OR e.ts < d.valid_to)
      |WHERE e.event_type = 'purchase'
      |ORDER BY e.event_id""".stripMargin)

  val registry: Map[String, Q] = Map(
    "q_pit_join" -> qPitJoin,
    "r_dim_scd2" -> rDimScd2,
    "r_scd2_merge" -> rScd2Merge,
    "q_heatmap" -> qHeatmap,
    "q_heatmap_daily" -> qHeatmapDaily,
    "q_world_stats" -> qWorldStats,
    "r_dim_build" -> rDimBuild,
    "r_dim_sighting" -> rDimSighting,
    "r_fact_antijoin" -> rFactAntijoin,
    "r_fact_assemble" -> rFactAssemble,
    "r_fact_full" -> rFactFull,
    "r_dim_gear9" -> rDimGear9,
    "r_resolve_v1" -> rResolveV1,
    "r_upsert_latest" -> rUpsertLatest,
    "r_player_upsert" -> rPlayerUpsert,
    "q_ban_flags" -> qBanFlags,
    "r_upsert_report" -> rUpsertReport,
    "r_cache_join" -> rCacheJoin)
}
