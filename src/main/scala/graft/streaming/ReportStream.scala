package graft.streaming

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming re-expression of the reference worker's pipe
  * (ref src/main.py): Kafka consumer → asyncio queues → batcher →
  * MySQL inserter becomes readStream → declarative transform →
  * foreachBatch idempotent sink.
  *
  * In this container there is no Kafka broker, so the exercised
  * source is a file stream (same unbounded-table semantics, same
  * downstream code); `kafkaSource` shows the one-line swap for a real
  * deployment. The batch-of-1000-or-60s logic (ref main.py:39-57) is
  * the micro-batch trigger; the error-requeue loop (main.py:78-96)
  * becomes a dead-letter split written alongside the good rows.
  */
object ReportStream {

  /** The JSON payload schema (ref views/report.py ReportInQV1/V2,
    * reduced to the test events' shape). Handles the nanos-as-long ts
    * the raw parquet stream delivers.
    */
  def parsedEvents(raw: DataFrame): DataFrame =
    graft.Tables.nanosToTimestamp(raw).withColumns(ListMap(
      "k" -> get_json_object(col("props"), "$.k").cast("long"),
      "manual_detect" -> col("event_id") % 2))

  /** Kafka source for production (not runnable here: neither a broker
    * nor the spark-sql-kafka connector jar ships in this container —
    * verified absent from /opt/spark/jars and the offline dep cache —
    * so the consumer-group/offset surface stays a deployment-only
    * gap covered by config + the D6 wire-format specs).
    * value is the JSON body, exactly the reference's consumer feed.
    *
    * `maxOffsetsPerTrigger` is the backpressure knob (ref main.py:39-57
    * caps a batch at 1000 messages): bounds every micro-batch so one
    * lagging restart can't pull the whole topic into a single batch.
    */
  def kafkaSource(spark: SparkSession, servers: String, topic: String,
      maxOffsetsPerTrigger: Option[Long] = Some(100000L)): DataFrame = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
    maxOffsetsPerTrigger
      .fold(base)(n => base.option("maxOffsetsPerTrigger", n.toString))
      .load()
      .selectExpr("CAST(value AS STRING) AS json")
  }

  /** Production session config for the always-on pipes (D1/D5/D9/D10):
    * RocksDB is the DEFAULT state store — per-key state lives off-heap
    * on local SSD instead of the executor heap, which is the only
    * shape that survives an unbounded key space (the HDFS-backed map
    * store holds every key on-heap); changelog checkpointing ships
    * per-batch deltas instead of re-uploading full SST snapshots.
    * Spec-exercised: StreamingSpec runs D5 and D9 under exactly these
    * confs.
    */
  val productionStreamingConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Kafka sink options for production (the requeue path's target:
    * dead letters' `requeue_json` becomes the message value). Not
    * startable here — no broker — but this is the complete writer
    * config, mirrored by kafkaSource above.
    */
  def kafkaSinkOptions(servers: String, topic: String,
      checkpointDir: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> servers,
    "topic" -> topic,
    "checkpointLocation" -> checkpointDir,
    // idempotent producer: retries cannot duplicate within a session
    "kafka.enable.idempotence" -> "true",
    "kafka.acks" -> "all")

  def toKafkaSink(df: DataFrame, servers: String, topic: String,
      checkpointDir: String): StreamingQuery =
    df.selectExpr("CAST(requeue_json AS STRING) AS value")
      .writeStream.format("kafka")
      .options(kafkaSinkOptions(servers, topic, checkpointDir))
      .start()

  /** File source standing in for Kafka: a directory of event parquet
    * with the same schema as the events table. `maxFilesPerTrigger`
    * is the file-source backpressure knob (the `maxOffsetsPerTrigger`
    * analog): default one file per micro-batch, raise for throughput,
    * never unbounded — an unset cap makes the first batch after a
    * long outage read the entire backlog at once.
    */
  def fileSource(spark: SparkSession, dir: String,
      schemaFrom: DataFrame, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** D1/D10: the reference's WHOLE job as one streaming pipe — Kafka-
    * shaped source → cleanse/split → star-normalized FACT rows in
    * outDir/fact_report, failures in outDir/dead_letter with a reason
    * AND the v2 `KafkaReport` requeue payload (ref main.py:79-97: the
    * reference re-serializes failed batches via
    * convert_stg_to_kafka_report and puts them back on the error
    * queue; `requeue_json` is that exact wire format, ready for a
    * Kafka sink's `value` column). The fact projection is the batch
    * star's own (`Star.factProjection`, map-only hash-keyed), so
    * streamed facts are row-identical to a batch backfill over the
    * same events — spec-asserted. Sink is the bounded idempotent
    * appendDedup keyed on event_id, partitioned by reported month.
    */
  def pipelineStar(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery = {
    // D18: per-micro-batch telemetry via the Observation API — the
    // counts an operator pages on (rows in, dead-letter share, high-
    // water mark) computed INSIDE the running plan (no second pass,
    // no sink read-back) and surfaced on every StreamingQueryProgress
    // as `observedMetrics["graft_pipe"]`. Aggregate-only expressions,
    // so the observation merges map-side like any partial agg.
    val parsed = parsedEvents(events)
      .observe("graft_pipe",
        count(lit(1)).as("n_rows"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"),
        max(col("event_id")).as("max_event_id"))
    parsed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // persist: the batch feeds one probe and up to two sink writes —
        // uncached, every action re-runs the source scan (and would
        // multi-count the D18 observation); cached, the micro-batch
        // materializes exactly once, in the probe
        batch.persist()
        try {
          // one map-only job learns both what the fact sink's anti-join
          // must read (the valid rows' months) and whether there are
          // dead letters; a null event_type goes to neither sink
          val seen = probe(batch.filter(col("event_type").isNotNull),
            col("event_type") === "error", col("ts"))
          val validMonths = seen.collect { case (false, m) => m }
          if (validMonths.nonEmpty)
            writeDeduped(graft.operators.Star.factProjection(
                batch.filter(col("event_type") =!= "error")),
              s"$outDir/fact_report", Seq("event_id"), "reported_at",
              validMonths)
          if (seen.exists(_._1))
            withRequeueJson(batch.filter(col("event_type") === "error")
                .withColumn("reason", lit("bad_type")))
              .write.mode("append").parquet(s"$outDir/dead_letter")
        } finally batch.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Attach the v2 requeue payload to events-shaped dead rows: enrich
    * to the full report field set (same exact-arithmetic derivation
    * as the batch star), pack the 9 slots into the nested equipment
    * struct, serialize as v2.0.0 KafkaReport JSON — pure column ops,
    * fully codegen'd. Output keeps the caller's columns plus
    * `requeue_json`.
    */
  private[graft] def withRequeueJson(dead: DataFrame): DataFrame = {
    val orig = dead.columns.toSeq
    // toV2Json reads both new columns, so it is a second step
    graft.operators.Star.enrichFull(dead)
      .withColumns(ListMap(
        "reporter_id" -> col("reporting_id"),
        "equipment" -> KafkaJson.equipmentStruct(
          col("g_head"), col("g_amulet"), col("g_torso"), col("g_legs"),
          col("g_boots"), col("g_cape"), col("g_hands"), col("g_weapon"),
          col("g_shield"))))
      .withColumn("requeue_json", KafkaJson.toV2Json())
      .select((orig :+ "requeue_json").map(col): _*)
  }

  /** The sink's partition key of an instant: the epoch-month bucket
    * floor(epoch / 30 d), a pure int64 function of the instant and so
    * identical in every session timezone (date_format would shift rows
    * across partition boundaries between differently-configured
    * sessions and break the pruned anti-join). A null instant buckets
    * to -1, so replayed null-ts rows still dedup instead of never
    * matching the prune.
    */
  private def monthOf(ts: Column): Column =
    coalesce(floor(unix_timestamp(ts) / (30L * 86400L)).cast("long"),
      lit(-1L))

  /** The distinct `(dead, monthOf(ts))` pairs of `df` in ONE map-only
    * job: each task keeps its own partition's distinct pairs and the
    * driver unions them — no shuffle, and on a cached micro-batch the
    * same stage fills the cache.
    */
  private def probe(df: DataFrame, dead: Column,
      ts: Column): Set[(Boolean, Long)] = {
    import df.sparkSession.implicits._
    df.select(dead, monthOf(ts)).as[(Boolean, Long)]
      .mapPartitions(_.toSet.iterator).collect().toSet
  }

  /** D3: idempotent append — dedup within the batch AND against rows
    * already in the sink (anti join on the natural key), the
    * lake-side analog of the reference's NOT-EXISTS inserts
    * (ref report.py:170-314). Makes an at-least-once source
    * effectively exactly-once at the sink.
    *
    * The sink is partitioned by event month ([[monthOf]]) and the
    * anti-join reads ONLY the months the incoming batch touches
    * (partition-pruned scan): with a watermarked source a batch's
    * event-time span is bounded, so the read side stays O(batch
    * window), not O(sink history) — the r1 version broadcast the
    * ENTIRE sink, which grows without bound. The months come from one
    * map-only probe over the batch BEFORE its in-batch dedup, so the
    * deduped rows are computed once, by the write. That month set is
    * a superset of the deduped rows' months: they differ only when
    * one key arrives twice in a batch with instants in different
    * months, and then the read covers both, so the dedup is at least
    * as strict. The key read carries the batch's own `key :+ p_month`
    * schema, so it never infers one from the sink's files (an
    * inference job per batch) and an existing directory with no
    * committed parquet yet (a crashed first write) reads as empty.
    * Missing sink path is detected explicitly (FileSystem.exists); any
    * other read error fails the batch so the checkpoint retries it
    * instead of silently disabling dedup.
    */
  def appendDedup(batch: DataFrame, path: String, key: Seq[String],
      tsCol: String = "ts"): Unit =
    writeDeduped(batch, path, key, tsCol,
      probe(batch, lit(false), col(tsCol)).map(_._2))

  /** [[appendDedup]] with the batch's months already known. */
  private def writeDeduped(batch: DataFrame, path: String, key: Seq[String],
      tsCol: String, months: Set[Long]): Unit = {
    val spark = batch.sparkSession
    val part = "p_month"
    val deduped = batch.dropDuplicates(key)
      .withColumn(part, monthOf(col(tsCol)))
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh =
      if (!fs.exists(hPath)) deduped
      else {
        val existing = spark.read
          .schema(deduped.select((key :+ part).map(col): _*).schema)
          .parquet(path)
          .filter(col(part).isin(months.toSeq: _*))
          .select(key.map(col): _*)
        // no forced broadcast: AQE sizes the pruned read at runtime
        deduped.join(existing, key, "left_anti")
      }
    fresh.write.mode("append").partitionBy(part).parquet(path)
  }

  final case class Sighting(reportingId: Long, reportedId: Long,
      manualDetect: Long)
  final case class SightingSeen(reportingId: Long, reportedId: Long,
      manualDetect: Long, firstSeen: Long)

  /** D5: the reference's in-process LRU dedup cache (ref _cache.py)
    * as managed streaming state: emit a sighting only the first time
    * its key appears; state expires instead of LRU-evicting.
    */
  def firstSightings(events: Dataset[Sighting]): Dataset[SightingSeen] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(s => (s.reportingId, s.reportedId, s.manualDetect))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: (Long, Long, Long), rows: Iterator[Sighting],
            state: GroupState[Long]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val n = rows.size.toLong
            val prior = state.getOption.getOrElse(0L)
            state.update(prior + n)
            state.setTimeoutDuration("1 hour")
            if (prior == 0L && n > 0)
              Iterator(SightingSeen(key._1, key._2, key._3, n))
            else Iterator.empty
          }
        })
  }

  /** D8: watermarked stream-stream interval join — each non-purchase
    * event attributed to the same user's next purchase within 1 hour.
    * Both sides carry a 2-hour watermark and the join condition bounds
    * the event-time distance, so Spark can evict state on BOTH sides:
    * state size is O(events in the watermark window), never O(stream
    * history) — the only join shape that survives an unbounded stream.
    */
  def purchaseAttribution(clicksRaw: DataFrame,
      purchasesRaw: DataFrame): DataFrame = {
    val clicks = graft.Tables.nanosToTimestamp(clicksRaw)
      .filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = graft.Tables.nanosToTimestamp(purchasesRaw)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "user_id", "click_ts", "purchase_id",
        "purchase_ts")
  }

  /** D9: declarative streaming dedup — `dropDuplicatesWithinWatermark`
    * is the built-in sibling of D5's hand-rolled
    * flatMapGroupsWithState: first occurrence per key emitted, state
    * evicted automatically once the key's event time falls behind the
    * watermark.
    * Prefer this form when "seen within the dedup horizon" is the
    * semantic; D5 remains for custom per-key logic (counts, payload
    * merge). State is O(keys per watermark window).
    */
  def dedupWithinWatermark(events: DataFrame,
      keys: Seq[String]): DataFrame =
    graft.Tables.nanosToTimestamp(events)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** D13: built-in session windows — the streaming sibling of the
    * batch sessionizer (E5 `r_sessionize`): a user's session closes
    * after `gap` of silence, sessions emit once the watermark passes
    * their end, and per-session state is evicted automatically —
    * state is O(open sessions in the watermark span), never O(stream
    * history). The same call works in batch mode, which is what the
    * spec uses as the ground-truth twin.
    */
  def sessionStats(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    graft.Tables.nanosToTimestamp(events)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(18,2)")
          .as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** Watermarked tumbling-window counts (the reference's batch
    * accounting, ref main.py:39-57, as an always-on aggregation).
    */
  def windowedStats(events: DataFrame): DataFrame =
    graft.Tables.nanosToTimestamp(events)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("decimal(18,2)")
          .as("sum_value"))

  /** Per-user funnel state: the earliest view plus the click/purchase
    * CANDIDATE timestamps that could still become the resolved
    * first_click / first_purchase under a future view regression (µs
    * epochs). Candidates above the currently-resolved stage timestamp
    * are pruned every batch (they can never win — resolution is a min
    * over a set that only grows downward), so the lists hold only
    * out-of-order stragglers: empty on an ordered stream, bounded by
    * the attribution horizon otherwise.
    */
  final case class FunnelState(minView: Option[Long],
      clicks: List[Long], purchases: List[Long])
  final case class FunnelRow(userId: Long, firstView: Option[Long],
      firstClick: Option[Long], firstPurchase: Option[Long], stage: Long)

  /** The batch-funnel resolution over the candidate sets: first_click
    * = min click strictly after first_view, first_purchase = min
    * purchase strictly after first_click — E13's exact semantics,
    * re-derived from state on every batch.
    */
  private def resolveFunnel(st: FunnelState)
      : (Option[Long], Option[Long], Option[Long]) = {
    val fv = st.minView
    val fc = fv.flatMap(v => st.clicks.filter(_ > v).minOption)
    val fp = fc.flatMap(c => st.purchases.filter(_ > c).minOption)
    (fv, fc, fp)
  }

  /** D17: the E13 conversion funnel as an ALWAYS-ON state machine,
    * robust to CROSS-micro-batch out-of-order arrival: instead of
    * discarding a click/purchase the current view ordering rejects
    * (the r6 finding — a late EARLIER view could never resurrect it),
    * state keeps the still-viable candidates and re-resolves all
    * three stages each batch, so a view regression in batch N+1
    * recovers a click rejected in batch N and the emitted row equals
    * the batch `q_funnel` over everything seen (spec-pinned across
    * batch boundaries). Fold order within a batch is immaterial —
    * min/accumulate are commutative.
    *
    * State is bounded two ways: candidates above the resolved stage
    * are pruned per batch (an ordered stream keeps ZERO candidates),
    * and an EVENT-TIME TIMEOUT evicts the whole row once the
    * watermark passes the user's last activity plus the attribution
    * horizon — after that the funnel is final (rows were already
    * emitted on every change; events older than the watermark are
    * dropped upstream). Update mode; a dashboard sink upserts by
    * user_id.
    */
  def streamingFunnel(events: DataFrame,
      horizonMs: Long = 24L * 3600 * 1000): Dataset[FunnelRow] = {
    val s = events.sparkSession
    import s.implicits._
    val streaming = events.isStreaming
    // batch runs (the spec's ground-truth twin) have no watermark to
    // drive an event-time timeout — NoTimeout there, horizon on streams
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // the watermarked ts column itself rides along into the stateful
    // operator (projecting it away would strip the watermark the
    // event-time timeout needs); the fold reads the µs twin
    graft.Tables.nanosToTimestamp(events)
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
            state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            // attribution horizon passed: the funnel is final — free
            // the per-user state
            state.remove()
            Iterator.empty
          } else {
            val existed = state.exists
            var st = state.getOption.getOrElse(FunnelState(None, Nil, Nil))
            val before = resolveFunnel(st)
            var maxUs = Long.MinValue
            rows.foreach { case (_, _, us, t) =>
              maxUs = math.max(maxUs, us)
              t match {
                case "view" if st.minView.forall(us < _) =>
                  st = st.copy(minView = Some(us))
                case "click" => st = st.copy(clicks = us :: st.clicks)
                case "purchase" =>
                  st = st.copy(purchases = us :: st.purchases)
                case _ =>
              }
            }
            val res = resolveFunnel(st)
            val (fv, fc, fp) = res
            // prune: a candidate strictly between the stage anchor and
            // the resolved winner cannot exist, and one above the
            // winner can never win — keep only potential regression
            // beneficiaries (≤ anchor) plus the winner itself
            state.update(FunnelState(st.minView,
              st.clicks.distinct
                .filter(c => fv.forall(c <= _) || fc.contains(c)).sorted,
              st.purchases.distinct
                .filter(p => fc.forall(p <= _) || fp.contains(p)).sorted))
            if (streaming && maxUs != Long.MinValue)
              state.setTimeoutTimestamp(math.max(maxUs / 1000 + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            if ((res == before && existed) || fv.isEmpty) Iterator.empty
            else Iterator(FunnelRow(uid, fv, fc, fp,
              1L + fc.size + fp.size))
          }
        })
  }

  /** One kept leaderboard entry; ordered value DESC, event_id ASC —
    * the E26 `q_user_topk` total order exactly.
    */
  final case class TopEntry(value: Double, eventId: Long,
      eventType: String)
  final case class LeaderState(version: Long, top: List[TopEntry])
  final case class LeaderRow(userId: Long, version: Long,
      top: Seq[TopEntry])

  /** The E26 per-key top-k VIEW kept current AT INGEST — the
    * streaming maintenance twin of the PerKeyTopK batch operator
    * (plans/TopK.scala), same stance as G9-maint and the F13 ingest
    * gate: state per key is the k kept entries and NOTHING else
    * (every arriving row either displaces the key's current worst or
    * is dropped on the spot), so a leaderboard over a billion-event
    * stream holds exactly keys × k rows of state — the streaming form
    * of the batch operator's bounded-heap argument. Each micro-batch
    * emits the keys it touched with their updated top-k and a
    * monotonic per-key version (Update-mode sinks upsert by key;
    * the version makes "latest emission" explicit for replay specs).
    * Works identically over a batch Dataset (NoTimeout + one pass) —
    * the spec pins both paths to the batch operator's rows.
    */
  def streamingLeaderboard(events: DataFrame, k: Int = 3)
      : Dataset[LeaderRow] = {
    val s = events.sparkSession
    import s.implicits._
    graft.Tables.nanosToTimestamp(events)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, Long, String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, Long, String, Double)],
            state: GroupState[LeaderState]) => {
          val st = state.getOption.getOrElse(LeaderState(0L, Nil))
          var top = st.top
          rows.foreach { case (_, eid, et, v) =>
            // at-least-once guard: a redelivered event whose original
            // is KEPT is skipped; one whose original was DROPPED
            // cannot enter either, because the kept set only ever
            // improves (it rejected the original against a weaker
            // top) — so replays are exact no-ops, spec-pinned by
            // streaming the corpus twice. Insert-then-trim keeps the
            // list at k: the displaced worst never returns — this IS
            // the bounded heap
            if (!top.exists(_.eventId == eid))
              top = (TopEntry(v, eid, et) :: top)
                .sortBy(e => (-e.value, e.eventId)).take(k)
          }
          val next = LeaderState(st.version + 1, top)
          state.update(next)
          LeaderRow(uid, next.version, next.top)
        })
  }

  /** Graceful shutdown — the reference installs SIGINT/SIGTERM
    * handlers that drain its queues before stopping the consumer (ref
    * src/gracefull_shutdown.py:8-21); the Structured Streaming analog
    * is: let each active query's IN-FLIGHT trigger finish, then
    * `stop()` it. Without the drain, a rollout lands `stop()` in the
    * middle of a micro-batch; the checkpoint replays it on restart,
    * which is only safe because every graft sink is idempotent — the
    * drain avoids paying that replay on every deploy. The wait is
    * deadline-bounded: a hung batch must not block JVM exit (the
    * idempotent-sink + checkpoint contract makes the forced stop safe,
    * exactly as a SIGKILL after the reference's drain window would
    * be).
    */
  def drainAndStop(queries: Seq[StreamingQuery],
      drainTimeoutMs: Long = 30000L): Unit =
    queries.foreach { q =>
      val deadline = System.nanoTime() + drainTimeoutMs * 1000000L
      def remainingMs: Long =
        math.max(1L, (deadline - System.nanoTime()) / 1000000L)
      try {
        while (q.isActive && q.status.isTriggerActive &&
            System.nanoTime() < deadline)
          Thread.sleep(20)
        // EVERY wait below is bounded by the leftover deadline budget,
        // not just the trigger poll above: under the default
        // spark.sql.streaming.stopTimeout=0, q.stop() blocks forever
        // on a batch whose tasks ignore interrupts — cap it so the
        // hook can log and move on to the next query
        if (q.isActive) {
          val sc = q.sparkSession.sessionState.conf
          val prev = sc.getConfString("spark.sql.streaming.stopTimeout", "0")
          sc.setConfString("spark.sql.streaming.stopTimeout",
            remainingMs.toString)
          try q.stop()
          finally sc.setConfString("spark.sql.streaming.stopTimeout", prev)
        }
        if (!q.awaitTermination(remainingMs))
          System.err.println(
            s"[graft] drain deadline expired for query ${q.name}; " +
              "abandoning it (idempotent sinks make the replay safe)")
      } catch {
        // a query that already died delivers its failure here, and a
        // deadline-expired stop() throws TimeoutException; the
        // shutdown path's job is to stop the others, not to re-throw
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(
            s"[graft] stop() deadline expired for query ${q.name}; " +
              "abandoning it (idempotent sinks make the replay safe)")
      }
    }

  /** Register [[drainAndStop]] over the session's active queries as a
    * JVM shutdown hook (SIGINT/SIGTERM both run shutdown hooks — the
    * exact trigger set the reference's signal handlers cover). Returns
    * the hook thread so a spec can exercise it by direct `run()` and
    * a deployment can deregister it.
    */
  def shutdownHook(spark: SparkSession,
      drainTimeoutMs: Long = 30000L): Thread = {
    val t = new Thread(
      () => drainAndStop(spark.streams.active.toSeq, drainTimeoutMs),
      "graft-stream-drain")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }
}
