package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.ReportStream

/** D1/D3/D5: the streaming pipe driven end-to-end with a file source
  * standing in for Kafka (same unbounded-table semantics).
  */
class StreamingSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def stageEvents(dir: String): Unit =
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

  test("D1 pipeline: valid rows land in reports, errors in dead_letter") {
    val in = tempDir("graft_in")
    val out = tempDir("graft_out")
    val ck = tempDir("graft_ck")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.pipelineStar(src, out, ck)
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race

    val events = Tables.events(spark, sf)
    val errors = events.filter(col("event_type") === "error")
    val nErr = errors.count()
    val facts = spark.read.parquet(s"$out/fact_report")
    val dead = spark.read.parquet(s"$out/dead_letter")
    assert(facts.count() === events.count() - nErr)
    assert(dead.count() === nErr)
    assert(facts.join(errors, Seq("event_id"), "left_semi").count() === 0,
      "no error event may become a fact")
    assert(dead.select("reason").distinct().head().getString(0) === "bad_type")
    // dead letters carry the v2 KafkaReport requeue payload
    assert(dead.columns.contains("requeue_json"))
    val rq = graft.streaming.KafkaJson.parseReports(
      dead.select(col("requeue_json").as("json")))
    assert(rq.filter(col("version") === "v2.0.0").count() === nErr)
  }

  test("D18 observe telemetry: per-micro-batch metrics sum to the " +
    "batch truth without a second pass") {
    val in = tempDir("graft_obs_in")
    val out = tempDir("graft_obs_out")
    val ck = tempDir("graft_obs_ck")
    // two files ⇒ two micro-batches (fileSource maxFilesPerTrigger=1)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/e1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/e2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.pipelineStar(src, out, ck)
    q.awaitTermination(120000)
    q.stop()
    val obs = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("graft_pipe")))
    assert(obs.size === 2, "expected one observation per micro-batch")
    val events = Tables.events(spark, sf)
    val nAll = events.count()
    val nErr = events.filter(col("event_type") === "error").count()
    assert(obs.map(_.getAs[Long]("n_rows")).sum === 2 * nAll,
      "observed row counts must sum to the rows actually streamed")
    assert(obs.map(_.getAs[Long]("n_errors")).sum === 2 * nErr,
      "observed dead-letter counts must match the error share")
    assert(obs.map(_.getAs[Long]("max_event_id")).max ===
      events.agg(max("event_id")).head().getLong(0),
      "the high-water mark must reach the corpus maximum")
  }

  test("D3 idempotent sink: replaying the same batch adds no rows") {
    val out = tempDir("graft_sink")
    val batch = Tables.events(spark, sf).limit(100)
    ReportStream.appendDedup(batch, s"$out/t", Seq("event_id"))
    val n1 = spark.read.parquet(s"$out/t").count()
    ReportStream.appendDedup(batch, s"$out/t", Seq("event_id")) // replay
    val n2 = spark.read.parquet(s"$out/t").count()
    assert(n1 === 100)
    assert(n2 === n1, "replayed batch must be fully deduped")
    // a crashed first write leaves the sink dir with no committed
    // parquet: it must read as an empty sink, not fail the batch
    new java.io.File(s"$out/crashed/_temporary").mkdirs()
    ReportStream.appendDedup(batch, s"$out/crashed", Seq("event_id"))
    assert(spark.read.parquet(s"$out/crashed").count() === 100)
  }

  test("D3 bounded sink: month-partitioned layout, partial-overlap replay") {
    val out = tempDir("graft_sink_bounded")
    ReportStream.appendDedup(
      Tables.events(spark, sf).limit(200), s"$out/t", Seq("event_id"))
    // 200 already-written keys + 100 fresh ones in the same call
    ReportStream.appendDedup(
      Tables.events(spark, sf).limit(300), s"$out/t", Seq("event_id"))
    assert(spark.read.parquet(s"$out/t").count() === 300,
      "overlap deduped, fresh rows appended")
    // the sink is laid out by event month — the partition-pruning key
    // that bounds the anti-join read to the batch's own months
    val dirs = new java.io.File(s"$out/t").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("p_month=")))
  }

  /** Writes events-raw-shaped `rows` as ONE parquet file `in/name`,
    * so the file source reads it as one micro-batch.
    */
  private def stageFile(rows: org.apache.spark.sql.DataFrame, in: String,
      name: String): Unit = {
    val staging = tempDir("graft_stage")
    rows.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/$name"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One `pipelineStar` drain of whatever `in` holds that `ck` has not
    * committed yet.
    */
  private def drainPipe(in: String, out: String, ck: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = ReportStream.pipelineStar(
      ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf)),
      out, ck)
    q.awaitTermination(120000)
    q.stop()
    q
  }

  /** Rows in a sink table; a sink never written reads as empty. */
  private def sinkRows(path: String): Long =
    if (new java.io.File(path).exists()) spark.read.parquet(path).count()
    else 0L

  test("pipe action budget: each micro-batch runs one probe and at most " +
    "two writes, with no emptiness probe") {
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val in = tempDir("graft_budget_in")
    val out = tempDir("graft_budget_out")
    val ck = tempDir("graft_budget_ck")
    // two files ⇒ two micro-batches (fileSource maxFilesPerTrigger=1);
    // the second finds the sink written, so it also pays the anti-join
    Seq("e1.parquet", "e2.parquet").foreach { f =>
      Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // (micro-batches, action name, is a write) per Spark action:
    // foreachBatch hands each micro-batch over as a LogicalRDD, so the
    // RDD ids an action's plan reads name the micro-batch it ran for
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Int], String, Boolean)]
    def record(funcName: String, qe: QueryExecution): Unit = {
      val batches = qe.analyzed.collect { case r: LogicalRDD => r.rdd.id }
        .distinct
      val write = qe.analyzed.isInstanceOf[DataWritingCommand]
      seen.synchronized { seen += ((batches, funcName, write)) }
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = record(funcName, qe)
    }
    // the stream runs on a clone of the session, which copies the
    // listener at start; unregistering right after keeps the count to
    // the stream's own actions
    spark.listenerManager.register(listener)
    val q = try ReportStream.pipelineStar(
      ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf)), out, ck)
    finally spark.listenerManager.unregister(listener)
    q.awaitTermination(120000)
    q.stop()
    org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)

    val acts = seen.synchronized(seen.toList)
    assert(acts.forall(_._1.size == 1),
      s"every action must read exactly one micro-batch: $acts")
    val byBatch = acts.groupBy(_._1.head)
    assert(byBatch.size === 2, s"expected two micro-batches: $acts")
    byBatch.foreach { case (rdd, as) =>
      val (writes, others) = as.partition(_._3)
      assert(others.map(_._2) === List("collect"),
        s"batch rdd $rdd: one probe is the only non-write action, ran $as")
      assert(writes.size <= 2, s"batch rdd $rdd: at most two writes, ran $as")
    }
    assert(!acts.exists(_._2 == "isEmpty"))
    assert(sinkRows(s"$out/fact_report") ===
      Tables.events(spark, sf).filter(col("event_type") =!= "error").count())
  }

  test("pipe probe: a micro-batch of only error rows writes zero facts " +
    "and every row as a dead letter") {
    val in = tempDir("graft_allerr_in")
    val out = tempDir("graft_allerr_out")
    val ck = tempDir("graft_allerr_ck")
    val errors = Tables.eventsRaw(spark, sf)
      .filter(col("event_type") === "error")
    val nErr = errors.count()
    assert(nErr > 0)
    stageFile(errors, in, "errors.parquet")
    drainPipe(in, out, ck)
    assert(sinkRows(s"$out/fact_report") === 0L)
    assert(sinkRows(s"$out/dead_letter") === nErr)
  }

  test("pipe probe: a micro-batch with no error rows writes no dead " +
    "letters") {
    val in = tempDir("graft_noerr_in")
    val out = tempDir("graft_noerr_out")
    val ck = tempDir("graft_noerr_ck")
    val valid = Tables.eventsRaw(spark, sf)
      .filter(col("event_type") =!= "error")
    stageFile(valid, in, "valid.parquet")
    drainPipe(in, out, ck)
    assert(sinkRows(s"$out/fact_report") === valid.count())
    assert(sinkRows(s"$out/dead_letter") === 0L)
  }

  test("pipe probe: rows with a null event_type reach neither sink") {
    val in = tempDir("graft_nulltype_in")
    val out = tempDir("graft_nulltype_out")
    val ck = tempDir("graft_nulltype_ck")
    // every 7th event loses its type, errors included
    val raw = Tables.eventsRaw(spark, sf).withColumn("event_type",
      when(col("event_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("event_type")))
    val nulls = raw.filter(col("event_type").isNull)
    assert(nulls.count() > 0)
    stageFile(raw, in, "mixed.parquet")
    drainPipe(in, out, ck)
    val facts = spark.read.parquet(s"$out/fact_report")
    val dead = spark.read.parquet(s"$out/dead_letter")
    assert(facts.count() === raw.filter(col("event_type") =!= "error").count())
    assert(dead.count() === raw.filter(col("event_type") === "error").count())
    assert(facts.join(nulls, Seq("event_id"), "left_semi").count() === 0)
    assert(dead.join(nulls, Seq("event_id"), "left_semi").count() === 0)
  }

  test("pipe probe: an event_id already in the sink under month A is " +
    "deduped when re-sent in a batch whose valid rows span months A and B") {
    val in = tempDir("graft_months_in")
    val out = tempDir("graft_months_out")
    val ck = tempDir("graft_months_ck")
    // two adjacent sink months (30-day epoch buckets), in the raw ts
    // type the source declares (nanos as long, or a timestamp)
    val monthA = 660L
    val raw = Tables.eventsRaw(spark, sf)
    def tsIn(month: Long) = {
      val secs = month * 30L * 86400L + 3600L
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => lit(secs * 1000000000L)
        case t => timestamp_seconds(lit(secs)).cast(t)
      }
    }
    val valid = raw
      .filter(col("event_type") =!= "error").orderBy("event_id").limit(40)
      .cache()
    val ids = valid.select("event_id").collect().map(_.getLong(0))
    val (first, second) = (ids.take(20), ids.drop(20))
    stageFile(valid.filter(col("event_id").isin(first.toSeq: _*))
      .withColumn("ts", tsIn(monthA)), in, "b0.parquet")
    drainPipe(in, out, ck)
    // batch 1: event x again, once stamped in A and once in B (so the
    // in-batch dedup may keep either copy), beside fresh rows in B
    val x = first.head
    val resent = valid.filter(col("event_id") === x)
    stageFile(resent.withColumn("ts", tsIn(monthA))
      .unionByName(resent.withColumn("ts", tsIn(monthA + 1)))
      .unionByName(valid.filter(col("event_id").isin(second.toSeq: _*))
        .withColumn("ts", tsIn(monthA + 1))), in, "b1.parquet")
    drainPipe(in, out, ck)
    val facts = spark.read.parquet(s"$out/fact_report")
    assert(facts.count() === 40L)
    assert(facts.filter(col("event_id") === x).count() === 1L,
      "the re-sent event must be deduped against the sink's month A")
    assert(facts.filter(col("event_id") === x)
      .select(col("p_month").cast("long")).head().getLong(0) === monthA)
    valid.unpersist()
  }

  test("D5 stateful dedup: each sighting key emitted exactly once") {
    import spark.implicits._
    val in = tempDir("graft_state_in")
    val ck = tempDir("graft_state_ck")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .select(col("user_id").as("reportingId"), col("k").as("reportedId"),
        (col("event_id") % 2).as("manualDetect"))
      .as[ReportStream.Sighting]
    val q = ReportStream.firstSightings(src)
      .writeStream.format("memory").queryName("first_sightings")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race

    val got = spark.table("first_sightings")
    val expected = Tables.events(spark, sf)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .select(col("user_id"), col("k"), (col("event_id") % 2)).distinct()
      .count()
    assert(got.count() === expected)
    assert(got.groupBy("reportingId", "reportedId", "manualDetect")
      .count().filter(col("count") > 1).count() === 0)
  }

  test("D8 stream-stream interval join matches its batch twin") {
    val in = tempDir("graft_ssj_in")
    stageEvents(in)
    val mk = () => ReportStream.fileSource(spark, in,
      Tables.eventsRaw(spark, sf))
    val q = ReportStream.purchaseAttribution(mk(), mk())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race

    val batch = Tables.events(spark, sf)
    val clicks = batch.filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = batch.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
    val expected = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .count()
    assert(spark.table("attrib").count() === expected,
      "streaming interval join must emit exactly the batch join's rows")
  }

  test("D10 streaming star pipe: streamed facts equal the batch star") {
    val in = tempDir("graft_star_in")
    val out = tempDir("graft_star_out")
    val ck = tempDir("graft_star_ck")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.pipelineStar(src, out, ck)
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race

    val streamed = spark.read.parquet(s"$out/fact_report").drop("p_month")
    val batchTwin = graft.operators.Star
      .factProjection(Tables.events(spark, sf)
        .filter(col("event_type") =!= "error"))
    assert(streamed.count() === batchTwin.count())
    assert(streamed.except(batchTwin).count() === 0)
    assert(batchTwin.except(streamed).count() === 0,
      "streamed star facts must be row-identical to the batch backfill")
  }

  test("H13 quality gate filters documents in-flight identically to " +
    "batch") {
    // the curation filter is a stateless scan-stage predicate, so the
    // SAME expression gates a document stream with zero state and
    // exactly the batch keep set — curation pipelines filter at
    // ingest, not in a second pass
    val in = tempDir("graft_filter_in")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val stream = spark.readStream
      .schema(Tables.documents(spark, sf).schema)
      .parquet(in)
      .filter(graft.operators.TextAnalysis.filterKeep)
      .select("doc_id")
    val q = stream.writeStream.format("memory").queryName("filtered_docs")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = spark.table("filtered_docs").collect()
      .map(_.getLong(0)).toSet
    val batch = SparkEntry.queries("t_filter")(spark, sf)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    assert(streamed === batch,
      "in-flight keep set must equal the batch filter's")
  }

  test("F11 curation runs at ingest: stream-static anti-joins against " +
    "compiled artifacts reproduce the batch corpus, zero state") {
    // the production shape of the capstone: the expensive halves
    // (near-dup clustering, contamination scan) are compiled OFFLINE
    // into lake artifacts; ingest then curates in-flight with the
    // stateless quality/eval predicates plus stream-static anti-joins
    // against those artifacts — no stream state, no second corpus pass
    val in = tempDir("graft_curate_in")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val drop = SparkEntry.queries("d_dup_clusters")(spark, sf)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    val contaminated = SparkEntry.queries("d_contaminate")(spark, sf)
      .select("doc_id")
    val evalPred =
      expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) IN ('0', '1')")
    val stream = spark.readStream
      .schema(Tables.documents(spark, sf).schema)
      .parquet(in)
      .filter(!evalPred)
      .filter(graft.operators.TextAnalysis.filterKeep)
      .join(drop, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id")
    val q = stream.writeStream.format("memory").queryName("curated_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "ingest-time curation must carry zero stream state")
    val streamed = spark.table("curated_stream").collect()
      .map(_.getLong(0)).toSet
    val batch = SparkEntry.queries("d_curate_corpus")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batch,
      "in-flight curated set must equal the batch capstone's")
  }

  test("F13 incremental dedup gates a document stream against the " +
    "standing index, micro-batch == ingest batch") {
    // the production shape of d_incr_dedup: the historical band index
    // is a compiled lake artifact; each arriving micro-batch IS an
    // ingest batch, gated inside foreachBatch with the same map-only
    // band expression + index join as the batch query — no stream
    // state, and the union of all micro-batch verdicts must equal the
    // batch gate's output flag-for-flag
    val in = tempDir("graft_incr_in")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val acc = new scala.collection.mutable.ArrayBuffer[
      (Long, Option[Long], Boolean)]()
    val q = spark.readStream
      .schema(Tables.documents(spark, sf).schema)
      .parquet(in)
      .filter(col("doc_id") % 5 === 4)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = graft.operators.Dedup.incrGate(spark, b, sf).collect()
        acc.synchronized {
          acc ++= flagged.map(r => (r.getLong(0),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            r.getBoolean(4)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = acc.toSet
    val batch = SparkEntry.queries("d_incr_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4))).toSet
    assert(streamed === batch,
      "in-flight dup verdicts must equal the batch gate's")
  }

  test("F30-incr edit-dup gates a document stream against the standing " +
    "variant index, micro-batch == ingest batch") {
    // the production shape of d_incr_edit: the deletion-variant index
    // is a compiled lake artifact; each arriving micro-batch gates
    // inside foreachBatch with the same variant explode + index join
    // as the batch query — no stream state, union of verdicts equals
    // the batch gate flag-for-flag
    val in = tempDir("graft_edit_in")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val acc = new scala.collection.mutable.ArrayBuffer[
      (Long, Option[Long], Boolean)]()
    val q = spark.readStream
      .schema(Tables.documents(spark, sf).schema)
      .parquet(in)
      .filter(col("doc_id") % 5 === 4)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = graft.operators.Dedup.editGate(spark, b, sf).collect()
        acc.synchronized {
          acc ++= flagged.map(r => (r.getLong(0),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            r.getBoolean(4)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = acc.toSet
    val batch = SparkEntry.queries("d_incr_edit")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4))).toSet
    assert(streamed === batch,
      "in-flight edit-dup verdicts must equal the batch gate's")
    assert(batch.exists(_._3), "carve should contain an edit-dup")
  }

  test("G7 IVF index maintenance: a vector stream joins its cells " +
    "map-only under the fixed trained codebook") {
    // the production ANN maintenance path: the coarse quantizer is
    // trained once (the codebook artifact); vectors arriving AFTER
    // training — here the embeddings table replayed as a stream —
    // are assigned to their cells by the same map-only argmin
    // expression, zero state, zero retraining, assignments identical
    // to the batch index build
    val in = tempDir("graft_ivf_in")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$in/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val cb = graft.operators.Similarity.ivfCodebook(spark, sf)
    val stream = spark.readStream
      .schema(Tables.embeddings(spark, sf).schema)
      .parquet(in)
      .select(col("vec_id"),
        graft.operators.Similarity.ivfCellCol(cb).as("cell"))
    val q = stream.writeStream.format("memory").queryName("ivf_assign")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "IVF assignment must carry zero stream state")
    val streamed = spark.table("ivf_assign").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.operators.Similarity.ivfCellCol(cb).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed === batch,
      "streamed cell assignments diverged from the batch index")
  }

  test("H19 model-as-artifact: a document stream scores per micro-" +
    "batch against the standing bigram model, identical to batch") {
    // the quality-gate-at-ingest shape: train the LM once on the
    // standing corpus (count relations = eager artifacts), then each
    // arriving micro-batch scores as a pure function of (doc, model)
    // — no retrain, no corpus re-scan, zero stream state. Replaying
    // the training corpus itself in two halves must reproduce the
    // batch query's rows exactly.
    import graft.operators.TextAnalysis
    val (c2, c1, mean) = TextAnalysis.lmModel(spark, sf)
    val in = tempDir("graft_lm_in")
    def stageHalf(even: Boolean, f: String): Unit = {
      val scratch = tempDir("graft_lm_scratch")
      Tables.documents(spark, sf)
        .filter((col("doc_id") % 2 === 0) === even)
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = Files.list(Paths.get(scratch)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      Files.copy(Paths.get(part), Paths.get(s"$in/$f"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    stageHalf(even = true, "d1.parquet")
    stageHalf(even = false, "d2.parquet")
    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    val src = spark.readStream
      .schema(Tables.documents(spark, sf).schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = src.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        acc ++= TextAnalysis.lmScoreWith(b, c2, c1, mean)
          .collect().map(_.toString)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "ingest scoring must carry zero stream state")
    val batch = SparkEntry.queries("t_lm_score")(spark, sf)
      .collect().map(_.toString)
    assert(acc.sorted.toSeq === batch.sorted.toSeq,
      "streamed scores diverged from the batch query")
  }

  test("G9 PQ index maintenance: a vector stream encodes to codes " +
    "map-only under the fixed trained codebook") {
    // the PQ sibling of the G7 maintenance path: the sub-centroid
    // codebook is trained once; vectors arriving after training are
    // encoded to their PqSub codes by the same map-only argmin
    // expression — zero state, zero retraining, codes identical to
    // the batch encode that built the standing code table
    val in = tempDir("graft_pq_in")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$in/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val cb = graft.operators.Similarity.ivfCodebook(spark, sf)
    val stream = spark.readStream
      .schema(Tables.embeddings(spark, sf).schema)
      .parquet(in)
      .select(col("vec_id"),
        graft.operators.Similarity.pqCodesCol(cb).as("codes"))
    val q = stream.writeStream.format("memory").queryName("pq_encode")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "PQ encode must carry zero stream state")
    val streamed = spark.table("pq_encode").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val batch = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.operators.Similarity.pqCodesCol(cb).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(streamed === batch,
      "streamed PQ codes diverged from the batch code table")
    val labels = cb.map(_._1).toSet
    assert(streamed.values.forall(c =>
      c.length === graft.operators.Similarity.PqSub &&
        c.forall(labels.contains)),
      "every code must be a trained sub-centroid id")
  }

  test("D17 streaming funnel state machine matches the batch funnel") {
    val in = tempDir("graft_funnel_in")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.streamingFunnel(src)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    // one file ⇒ one micro-batch ⇒ exactly one (final) row per user
    val streamed = spark.table("funnel_stream")
      .select("userId", "firstView", "firstClick", "firstPurchase", "stage")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toSet
    val batch = SparkEntry.queries("q_funnel")(spark, sf)
      .select(col("user_id"), unix_micros(col("first_view")),
        unix_micros(col("first_click")), unix_micros(col("first_purchase")),
        col("funnel_stage"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toSet
    assert(streamed === batch,
      "streaming funnel state diverged from the batch funnel")
  }

  test("D17 funnel recovers a click rejected in an earlier micro-batch " +
    "when a LATE earlier view arrives (out-of-order across batches)") {
    import spark.implicits._
    // batch 1: user 100 gets view@20m, click@10m (rejected: before the
    // view), purchase@12m (rejected: no click). batch 2: a LATE view@5m
    // arrives — the r6 finding: the old state machine had discarded the
    // click forever; the candidate-tracking one must re-resolve to
    // view=5m, click=10m, purchase=12m, stage 3, exactly the batch
    // q_funnel over the union. user 200 is the in-order control.
    val base = 1767225600L * 1000000L // 2026-01-01 00:00 UTC, µs
    def ns(min: Long): Long = (base + min * 60000000L) * 1000L
    val in = tempDir("graft_ooo_in")
    val b1 = Seq(
      (1L, 100L, ns(20), "view"), (2L, 100L, ns(10), "click"),
      (3L, 100L, ns(12), "purchase"),
      (4L, 200L, ns(1), "view"), (5L, 200L, ns(2), "click"))
    val b2 = Seq(
      (6L, 100L, ns(5), "view"),
      (7L, 200L, ns(3), "purchase"))
    // the file source lists FLAT files — land each batch as one
    // part-file copied up from a scratch dir, mod-times forcing the
    // batch order (the source sorts by timestamp)
    def stage(rows: Seq[(Long, Long, Long, String)], f: String,
        tMs: Long): Unit = {
      val scratch = tempDir("graft_ooo_scratch")
      rows.toDF("event_id", "user_id", "ts", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = Files.list(Paths.get(scratch)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      Files.copy(Paths.get(part), Paths.get(s"$in/$f"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(s"$in/$f"),
        java.nio.file.attribute.FileTime.fromMillis(tMs))
    }
    stage(b1, "b1.parquet", 1000000)
    stage(b2, "b2.parquet", 2000000)
    val src = spark.readStream
      .schema("event_id LONG, user_id LONG, ts LONG, event_type STRING")
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = ReportStream.streamingFunnel(src)
      .writeStream.format("memory").queryName("funnel_ooo")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    // Update mode: the LAST row per user is the live state
    val winName = org.apache.spark.sql.expressions.Window
      .partitionBy("userId")
    val fin = spark.table("funnel_ooo")
      .withColumn("rn", monotonically_increasing_id())
      .withColumn("mx", max("rn").over(winName))
      .filter(col("rn") === col("mx"))
      .collect()
      .map(r => r.getAs[Long]("userId") ->
        (Option(r.get(r.fieldIndex("firstView"))),
          Option(r.get(r.fieldIndex("firstClick"))),
          Option(r.get(r.fieldIndex("firstPurchase"))),
          r.getAs[Long]("stage"))).toMap
    def us(min: Long): Long = base + min * 60000000L
    assert(fin(100L) === ((Some(us(5)), Some(us(10)), Some(us(12)), 3L)),
      "late earlier view must resurrect the rejected click + purchase")
    assert(fin(200L) === ((Some(us(1)), Some(us(2)), Some(us(3)), 3L)))
  }

  test("F8-incr: cluster map maintained across edge micro-batches — " +
    "streamed merges converge to the batch incremental result") {
    import graft.operators.Dedup
    // the production shape: the F13 gate discovers dup edges at
    // ingest; each micro-batch's edges fold into the standing map via
    // mergeClusters. Correctness hinges on merge associativity:
    // merge(merge(M, E1), E2) must equal the single-batch merge over
    // E1 ∪ E2 — proven here by replaying the d_incr_clusters edge set
    // in TWO micro-batches through a real stream and pinning the
    // final map to the batch query's output.
    val batchE = Dedup.dupEdges(spark, sf)
      .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .withColumn("half",
        substring(md5(concat_ws(",",
          least(col("doc_a"), col("doc_b")),
          greatest(col("doc_a"), col("doc_b")))), 1, 1) < "8")
      .cache()
    val in = tempDir("graft_edges_in")
    def stageHalf(flag: Boolean, f: String, tMs: Long): Unit = {
      val scratch = tempDir("graft_edges_scratch")
      batchE.filter(col("half") === flag).select("doc_a", "doc_b")
        .coalesce(1).write.mode("overwrite").parquet(scratch)
      val part = Files.list(Paths.get(scratch)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      Files.copy(Paths.get(part), Paths.get(s"$in/$f"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Paths.get(s"$in/$f"),
        java.nio.file.attribute.FileTime.fromMillis(tMs))
    }
    stageHalf(flag = true, "e1.parquet", 1000000)
    stageHalf(flag = false, "e2.parquet", 2000000)
    var state = Dedup.oldClusterMap(spark, sf)
    val src = spark.readStream.schema("doc_a LONG, doc_b LONG")
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = src.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Dedup.mergeClusters(state, b).localCheckpoint(true)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = state.collect().map(_.toString).sorted
    val batch = SparkEntry.queries("d_incr_clusters")(spark, sf)
      .collect().map(_.toString).sorted
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq,
      "streamed per-batch merges diverged from the one-shot merge")
    batchE.unpersist()
  }

  test("F8-lake streaming: the lake table IS the stream state — a " +
    "NEW query (new checkpoint) resumes where the table stands, and " +
    "a replayed batch commits nothing") {
    import graft.operators.Dedup
    import graft.sources.LakeMerge
    val batchE = Dedup.dupEdges(spark, sf)
      .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .withColumn("half",
        substring(md5(concat_ws(",",
          least(col("doc_a"), col("doc_b")),
          greatest(col("doc_a"), col("doc_b")))), 1, 1) < "8")
      .cache()
    val tableDir = tempDir("graft_cmap_stream")
    Dedup.clusterTableInit(spark, tableDir, Dedup.oldClusterMap(spark, sf))
    def inDir(flag: Boolean): String = {
      val in = tempDir("graft_cmap_in")
      batchE.filter(col("half") === flag).select("doc_a", "doc_b")
        .coalesce(1).write.mode("overwrite").parquet(in)
      in
    }
    def runHalf(flag: Boolean): Unit = {
      // a FRESH query each time: new source dir, new checkpoint —
      // the restart the in-memory fold cannot survive
      val q = Dedup.streamingClusterRefresh(
        spark.readStream.schema("doc_a LONG, doc_b LONG")
          .parquet(inDir(flag)),
        tableDir, tempDir("graft_cmap_ck"))
      q.awaitTermination(120000)
      val stateless = Option(q.lastProgress)
        .forall(_.stateOperators.isEmpty)
      q.stop()
      assert(stateless, "lake-backed refresh must carry no stream state")
    }
    runHalf(flag = true)   // query 1 dies after this
    runHalf(flag = false)  // query 2: different JVM in production
    val streamed = Dedup.clusterTableRead(spark, tableDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("d_incr_clusters")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch,
      "two restarted streamed refreshes must equal the one-shot merge")
    // replay: re-running half 2's edges is a NO-OP commit-wise
    val vBefore = LakeMerge.latestVersion(spark, tableDir)
    runHalf(flag = false)
    assert(LakeMerge.latestVersion(spark, tableDir) === vBefore,
      "a replayed batch must produce an empty delta and no commit")
    batchE.unpersist()
  }

  test("AvailableNow catch-up twins (r15 verdict #6): one cron-mode " +
    "run over a multi-file BACKLOG — cluster refresh equals the " +
    "one-shot merge; ingest-gate verdicts equal the batch gate " +
    "across bounded micro-batches") {
    import graft.operators.Dedup
    // --- cluster refresh: the edge backlog lands as TWO files while
    // no maintainer runs; ONE AvailableNow query (fresh checkpoint,
    // maxFilesPerTrigger bounding each micro-batch) catches up. The
    // F8-lake spec above pins the per-file always-on cadence to the
    // same one-shot d_incr_clusters merge, so equality here makes the
    // two deployment modes interchangeable.
    val batchE = Dedup.dupEdges(spark, sf)
      .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .withColumn("half",
        substring(md5(concat_ws(",",
          least(col("doc_a"), col("doc_b")),
          greatest(col("doc_a"), col("doc_b")))), 1, 1) < "8")
      .cache()
    val backlog = tempDir("graft_cu_edges")
    for (flag <- Seq(true, false))
      batchE.filter(col("half") === flag).select("doc_a", "doc_b")
        .coalesce(1).write.mode("append").parquet(backlog)
    val tableDir = tempDir("graft_cu_cmap")
    Dedup.clusterTableInit(spark, tableDir, Dedup.oldClusterMap(spark, sf))
    val q = Dedup.streamingClusterRefresh(
      spark.readStream.schema("doc_a LONG, doc_b LONG")
        .option("maxFilesPerTrigger", "1").parquet(backlog),
      tableDir, tempDir("graft_cu_cmap_ck"))
    q.awaitTermination(120000)
    q.stop()
    val caught = Dedup.clusterTableRead(spark, tableDir)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = SparkEntry.queries("d_incr_clusters")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(caught === oneShot,
      "one catch-up run over the backlog must equal the one-shot merge")
    batchE.unpersist()
    // --- ingest gate: a 3-file document backlog gated in one bounded
    // catch-up run; the union of per-micro-batch verdicts must equal
    // the batch gate flag-for-flag (the existing F13 spec pins the
    // single-batch form; this pins the bounded multi-batch catch-up)
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 5 === 4)
    val in = tempDir("graft_cu_docs")
    for (r <- 0 until 3)
      docs.filter(col("doc_id") % 3 === r).coalesce(1)
        .write.mode("append").parquet(in)
    val acc = new scala.collection.mutable.ArrayBuffer[
      (Long, Option[Long], Boolean)]()
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q2 = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) nBatches.incrementAndGet()
        val flagged = Dedup.incrGate(spark, b, sf).collect()
        acc.synchronized {
          acc ++= flagged.map(r => (r.getLong(0),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            r.getBoolean(4)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    q2.stop()
    assert(nBatches.get() >= 3,
      "the bounded catch-up must cut one micro-batch per backlog file")
    val streamed = acc.toSet
    val batch = SparkEntry.queries("d_incr_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4))).toSet
    assert(streamed === batch,
      "catch-up verdicts must equal the batch gate's")
  }

  test("F8-lake CONCURRENT refreshes: the read-version pin turns " +
    "every interleaving commit into a CME and the retry recomputes " +
    "against the fresh tip — no update lost, final map equals the " +
    "one-shot merge (r13 advice, low)") {
    import graft.operators.Dedup
    val batchE = Dedup.dupEdges(spark, sf)
      .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4)
      .withColumn("lane",
        pmod(least(col("doc_a"), col("doc_b")), lit(3)))
      .cache()
    val tableDir = tempDir("graft_cmap_race")
    Dedup.clusterTableInit(spark, tableDir,
      Dedup.oldClusterMap(spark, sf))
    // each racer reads its own lane from parquet via its own session
    val laneDirs = (0 until 3).map { i =>
      val d = tempDir("graft_cmap_lane")
      batchE.filter(col("lane") === i).select("doc_a", "doc_b")
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = laneDirs.map { d =>
      val t = new Thread(() => {
        try {
          gate.await()
          val s = spark.newSession()
          Dedup.clusterTableRefreshRetry(s, tableDir,
            s.read.parquet(d), maxRetries = 50)
          ()
        } catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    gate.countDown()
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"racing refreshes must not throw: $errors")
    val raced = Dedup.clusterTableRead(spark, tableDir)
      .collect().map(_.toString).sorted.toSeq
    val oneShot = Dedup.mergeClusters(Dedup.oldClusterMap(spark, sf),
        batchE.select("doc_a", "doc_b"))
      .collect().map(_.toString).sorted.toSeq
    assert(raced === oneShot,
      "interleaved refreshes must serialize to the one-shot merge")
    batchE.unpersist()
  }

  test("D9 dropDuplicatesWithinWatermark removes replayed rows") {
    val in = tempDir("graft_ddw_in")
    // stage the SAME events twice: every event_id arrives duplicated
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events_a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // both files in ONE micro-batch (no maxFilesPerTrigger) so the
    // dedup horizon covers every duplicate pair
    val src = spark.readStream.schema(Tables.eventsRaw(spark, sf).schema)
      .parquet(in)
    val q = ReportStream.dedupWithinWatermark(src, Seq("event_id"))
      .writeStream.format("memory").queryName("ddw")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race
    assert(spark.table("ddw").count() ===
      Tables.events(spark, sf).count(),
      "each duplicated event_id must be emitted exactly once")
  }

  test("D5 stateful dedup runs on the RocksDB state store") {
    // the production default (ReportStream.productionStreamingConfs):
    // bounded memory, state spills to disk, changelog checkpointing —
    // same results as the default HDFS-backed store
    import spark.implicits._
    val prev = ReportStream.productionStreamingConfs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    ReportStream.productionStreamingConfs
      .foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val in = tempDir("graft_rocks_in")
      stageEvents(in)
      val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .select(col("user_id").as("reportingId"), col("k").as("reportedId"),
          (col("event_id") % 2).as("manualDetect"))
        .as[ReportStream.Sighting]
      val q = ReportStream.firstSightings(src)
        .writeStream.format("memory").queryName("first_sightings_rocks")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop() // deterministic teardown: no async final-batch vs JVM-exit race
      val expected = Tables.events(spark, sf)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .select(col("user_id"), col("k"), (col("event_id") % 2)).distinct()
        .count()
      assert(spark.table("first_sightings_rocks").count() === expected)

      // D9's declarative dedup under the same production store
      val q2 = ReportStream.dedupWithinWatermark(
          ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf)),
          Seq("event_id"))
        .writeStream.format("memory").queryName("ddw_rocks")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(120000)
      q2.stop()
      assert(spark.table("ddw_rocks").count() ===
        Tables.events(spark, sf).count())
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("fileSource maxFilesPerTrigger bounds each micro-batch") {
    val in = tempDir("graft_rate_in")
    stageEvents(in)
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events_b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // 2 files, cap 1 → the rate limit must split them into 2 batches
    val src = ReportStream.fileSource(spark, in,
      Tables.eventsRaw(spark, sf), maxFilesPerTrigger = 1)
    val q = src.writeStream.format("memory").queryName("rate_limited")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2,
      s"2 staged files with maxFilesPerTrigger=1 ran in $batches batch(es)")
    assert(spark.table("rate_limited").count() ===
      2 * Tables.events(spark, sf).count())
  }

  test("checkpointed restart: second run resumes, sink stays exactly-once") {
    val in = tempDir("graft_restart_in")
    val out = tempDir("graft_restart_out")
    val ck = tempDir("graft_restart_ck")
    stageEvents(in)
    val run = () => {
      val q = ReportStream.pipelineStar(
        ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf)),
        out, ck)
      q.awaitTermination(120000)
      q.stop()
      q
    }
    run()
    val afterFirst = spark.read.parquet(s"$out/fact_report").count()

    // new data lands while the query is DOWN: disjoint event_ids so
    // progress is distinguishable from dedup. The source watches flat
    // files, so stage the part file itself, not a directory.
    val staging = tempDir("graft_restart_stage")
    Tables.eventsRaw(spark, sf)
      .withColumn("event_id", col("event_id") + 10000000L)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/late_events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q2 = run()

    // the restart read ONLY the new file (checkpoint carried the old
    // progress), and the sink holds each event exactly once
    // resume proof: a FRESH checkpoint would process both files as
    // batches 0 and 1 (maxFilesPerTrigger=1); the resumed query runs
    // exactly ONE batch and its id continues after the first run's.
    // (numInputRows is useless here: each action inside foreachBatch
    // re-reads the micro-batch, so the metric multiple-counts.)
    val batches = q2.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 1,
      s"restart must only process the new file, ran ${batches.length} batches")
    assert(batches.head.batchId >= 1,
      "batch ids must continue from the checkpoint, not restart at 0")
    val facts = spark.read.parquet(s"$out/fact_report")
    assert(facts.filter(col("event_id") < 10000000L).count() === afterFirst,
      "restart must not rewrite rows from the first run")
    assert(facts.filter(col("event_id") >= 10000000L).count() === afterFirst,
      "the late file's (shifted, equally-valid) rows must all land")
    assert(facts.groupBy("event_id").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("torn star batch: sink written but commit lost — the replay " +
    "adds no facts and re-appends only that batch's dead letters") {
    // the parquet twin of JdbcSinkSpec's crash INSIDE the foreachBatch
    // commit: both sinks of the last batch are durable, but the
    // checkpoint never recorded its commit, so the restart re-runs it
    // from the offsets log — the fact sink's anti-join is all that
    // stands between that replay and duplicated facts
    val in = tempDir("graft_torn_in")
    val out = tempDir("graft_torn_out")
    val ck = tempDir("graft_torn_ck")
    stageEvents(in)
    val run = () => {
      val q = ReportStream.pipelineStar(
        ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf)),
        out, ck)
      q.awaitTermination(120000)
      q.stop()
      q
    }
    run()
    // batch 1: a disjoint-id half of the events, so the torn batch's
    // error share differs from batch 0's
    val staging = tempDir("graft_torn_stage")
    Tables.eventsRaw(spark, sf).filter(col("event_id") % 2 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/late_events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    run()
    val factsBefore = spark.read.parquet(s"$out/fact_report").count()
    val deadBefore = spark.read.parquet(s"$out/dead_letter").count()

    // tear the last batch: its sink writes stay, its commit is lost
    val last = new java.io.File(s"$ck/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(last === 1L)
    Files.delete(Paths.get(s"$ck/commits/$last"))
    Files.deleteIfExists(Paths.get(s"$ck/commits/.$last.crc"))
    val replayed = run().recentProgress.filter(_.numInputRows > 0)
    assert(replayed.map(_.batchId).toSeq === Seq(last),
      "the restart must re-run exactly the torn batch")

    val facts = spark.read.parquet(s"$out/fact_report").drop("p_month")
    assert(facts.count() === factsBefore,
      "the replayed batch must add zero facts")
    val sent = ReportStream.parsedEvents(spark.read
      .schema(Tables.eventsRaw(spark, sf).schema).parquet(in))
    val expected = graft.operators.Star.factProjection(
      sent.filter(col("event_type") =!= "error").dropDuplicates("event_id"))
    assert(facts.count() === expected.count())
    assert(facts.except(expected).count() === 0 &&
      expected.except(facts).count() === 0,
      "facts must equal the batch projection of the distinct valid events")
    // dead letters are append-only (the GracefulShutdownSpec contract):
    // the replay re-appends exactly the torn batch's error rows
    val tornErr = spark.read.parquet(staging)
      .filter(col("event_type") === "error").count()
    assert(tornErr > 0)
    assert(spark.read.parquet(s"$out/dead_letter").count() ===
      deadBefore + tornErr)
  }

  test("kafka sink options carry idempotent-producer settings") {
    val o = ReportStream.kafkaSinkOptions("broker:9092", "report", "/ck")
    assert(o("topic") === "report")
    assert(o("kafka.enable.idempotence") === "true")
    assert(o("kafka.acks") === "all")
  }

  test("D13 streaming session windows are a subset-exact batch match") {
    val in = tempDir("graft_sess_in")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.sessionStats(src)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    val streamed = spark.table("sess_stream")
    // ground truth: the SAME function over the bounded frame
    val batch = ReportStream.sessionStats(Tables.eventsRaw(spark, sf))
    // append mode emits only watermark-closed sessions → streamed is a
    // subset; every emitted session must match its batch twin exactly
    assert(streamed.count() > 0, "some sessions must close and emit")
    assert(streamed.except(batch).count() === 0,
      "every streamed session must exist identically in the batch run")
  }

  test("windowed stats aggregate with watermark") {
    val in = tempDir("graft_win_in")
    val ck = tempDir("graft_win_ck")
    stageEvents(in)
    val src = ReportStream.fileSource(spark, in, Tables.eventsRaw(spark, sf))
    val q = ReportStream.windowedStats(src)
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop() // deterministic teardown: no async final-batch vs JVM-exit race
    // append mode only emits closed windows; completeness is checked in
    // the batch twin (r_batch_stats oracle) — here the pipe must run
    // and produce the right schema
    val cols = spark.table("win_stats").columns.toSet
    assert(cols === Set("window", "event_type", "n_events", "sum_value"))
  }

  test("I5-maint streaming keyframes: per-micro-batch scene detection " +
    "equals the batch composition, zero stream state") {
    import spark.implicits._
    import graft.operators.MultiModal
    // an animated GIF whose frames paint per-pixel via `px` — the
    // same textured fixture the batch scene spec uses
    def texturedGif(frames: Seq[(Int, Int) => Int], w: Int,
        h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (px <- frames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (x <- 0 until w; y <- 0 until h) {
          val v = px(x, y) & 0xff
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
      ios.close()
      bos.toByteArray
    }
    val grad: (Int, Int) => Int = (x, _) => x * 255 / 17
    val rev: (Int, Int) => Int = (x, _) => 255 - x * 255 / 17
    // two containers with different shot structures + one poison row,
    // staged as TWO input files so AvailableNow cuts TWO micro-batches
    // — the boundary the zero-state claim must survive
    val gifA = texturedGif(Seq(grad, grad, rev, rev, grad), 18, 8)
    val gifB = texturedGif(Seq(rev, rev, rev, grad), 18, 8)
    val in = tempDir("graft_kf_in")
    val out = tempDir("graft_kf_out")
    val ck = tempDir("graft_kf_ck")
    Seq(MultiModal.MediaRow(1L, gifA, "gif", 18, 8)).toDS()
      .write.parquet(s"$in/b0")
    Seq(MultiModal.MediaRow(2L, gifB, "gif", 18, 8),
        MultiModal.MediaRow(3L, Array[Byte](9, 9), "gif", 0, 0)).toDS()
      .write.parquet(s"$in/b1")
    val allRows = Seq(
      MultiModal.MediaRow(1L, gifA, "gif", 18, 8),
      MultiModal.MediaRow(2L, gifB, "gif", 18, 8),
      MultiModal.MediaRow(3L, Array[Byte](9, 9), "gif", 0, 0))
    val stream = spark.readStream
      .schema(allRows.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    val q = MultiModal.streamingKeyframes(stream, out, ck)
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "per-batch keyframes must carry zero stream state")
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val batch = MultiModal.keyframes(
      MultiModal.frameDHash(allRows.toDS()))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed === batch,
      "streamed keyframes must be row-identical to the batch composition")
    // and the values are the known shot boundaries of each container
    assert(streamed === Seq((1L, 0L, 0), (1L, 1L, 2), (1L, 2L, 4),
      (2L, 0L, 0), (2L, 1L, 3)))
  }

  test("H27 content-defined chunking runs at ingest: per-micro-batch " +
    "chunks equal the batch chunker, zero stream state") {
    // a doc's chunks derive entirely from its own row (every window in
    // cdcChunks is doc-partitioned), so the chunker runs per
    // micro-batch inside foreachBatch with zero state and any
    // micro-batch boundary yields the batch-identical result — the
    // F13/I5-stream ingest-gate stance applied to chunking
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val half = docs.count() / 2
    val in = tempDir("graft_cdc_in")
    docs.filter(col("doc_id") < half).write.parquet(s"$in/b0")
    docs.filter(col("doc_id") >= half).write.parquet(s"$in/b1")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = graft.operators.TextAnalysis.cdcChunks(b).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", tempDir("graft_cdc_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "ingest-time chunking must carry zero stream state")
    val nBatches = buf.synchronized { buf.toSet }
    val batch = graft.operators.TextAnalysis
      .cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4))).toSet
    assert(nBatches === batch,
      "streamed chunks must be row-identical to the batch chunker")
  }

  test("F28 incremental chunk dedup runs at ingest: per-micro-batch " +
    "accounting vs the STATIC standing index equals the batch query, " +
    "zero stream state") {
    // stream-static: the standing chunk index is a fixed lake
    // artifact; each micro-batch of new docs is chunked and probed
    // against it independently — no state operator, restart-safe
    val newDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 4)
      .select("doc_id", "source", "text")
    val ids = newDocs.select("doc_id").collect().map(_.getLong(0)).sorted
    val half = ids(ids.length / 2) // median: two non-empty micro-batches
    val in = tempDir("graft_incrchunk_in")
    newDocs.filter(col("doc_id") < half).write.parquet(s"$in/b0")
    newDocs.filter(col("doc_id") >= half).write.parquet(s"$in/b1")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    val stream = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = graft.operators.Dedup
          .incrChunkStats(spark, b, sf).collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", tempDir("graft_incrchunk_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "the ingest gate must carry zero stream state")
    val streamed = buf.synchronized { buf.toSet }
    val batch = SparkEntry.queries("d_incr_chunk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed === batch,
      "streamed incremental chunk dedup must equal the batch query")
  }

  test("F26 SemDeDup runs at ingest: per-micro-batch verdicts against " +
    "the STATIC standing corpus equal the batch pass, zero stream " +
    "state, and every drop carries a real standing witness") {
    import graft.operators.Similarity
    val newVecs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 4)
      .select("vec_id", "embedding")
    val ids = newVecs.select("vec_id").collect().map(_.getLong(0)).sorted
    val half = ids(ids.length / 2)
    val in = tempDir("graft_semingest_in")
    newVecs.filter(col("vec_id") < half).write.parquet(s"$in/b0")
    newVecs.filter(col("vec_id") >= half).write.parquet(s"$in/b1")
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[Long])]
    val stream = spark.readStream.schema(newVecs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // the micro-batch binds to a CLONED session — register the
        // kernel there, not on the outer session
        val rows = Similarity.semDedupIngest(b.sparkSession, b, sf)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getLong(2))))
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", tempDir("graft_semingest_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val stateless = Option(q.lastProgress)
      .forall(_.stateOperators.isEmpty)
    q.stop()
    assert(stateless, "the ingest gate must carry zero stream state")
    val streamed = buf.synchronized { buf.toSet }
    val batch = Similarity.semDedupIngest(spark, newVecs, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(streamed === batch,
      "streamed SemDeDup verdicts must equal the batch pass")
    // soundness: a drop's witness is a standing (non-batch) vector
    // that really clears the threshold under the exact kernel
    val emb = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6)
    }
    for ((v, kept, wit) <- streamed if kept == 0L) {
      val w = wit.get
      assert(w % 5 != 4, "witness must be a standing vector")
      assert(cos(emb(v), emb(w)) >= Similarity.SemDupMicro,
        s"witness $w for $v must clear the threshold exactly")
    }
  }
}
