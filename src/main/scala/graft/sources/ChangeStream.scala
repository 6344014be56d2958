package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** L23 — the STREAMING consumer half of the lake change feed (the
  * r13 verdict's "missing consumer": L5/L22 are batch reads, so an
  * incremental materialized view had to poll-and-diff by hand).
  *
  * The shape is the Delta streaming-source one, restated on this
  * lake's primitives: the consumer's progress is a VERSION WATERMARK
  * — "I have applied the source feed up to version V" — and one
  * advance applies the `(V, tip]` range of [[LakeMerge.changes]] (or
  * the full [[LakeMerge.changesSinceCreation]] replay when the view
  * is fresh) and commits the new watermark ATOMICALLY with the view
  * rows, as a `txn` entry in the view table's own manifest (the L7
  * exactly-once stance). The lake is therefore the ONLY state:
  *
  *  - restart-safe with zero stream state: a new query, new
  *    checkpoint, or new JVM resumes exactly where the view's
  *    watermark stands (the F8-lake stance);
  *  - exactly-once: a replayed trigger sees `lastTxn >= tip` and
  *    applies nothing; a racing writer raises
  *    ConcurrentModificationException and the advance retries against
  *    the fresh snapshot;
  *  - incremental: the feed is the manifest-level diff (carried
  *    partitions cost zero I/O — L5), version discovery is the L20
  *    checkpoint probe (O(interval) metadata reads), and the merge
  *    back into the view rewrites only touched partitions (COW).
  *
  * The maintained view is the L8 counting view generalized: per-group
  * (count, sum) advanced by signed deltas — insert/update_postimage
  * add, delete/update_preimage retract, groups reaching count 0 are
  * deleted. `streamingView` wires the advance into an always-on
  * Structured Streaming query: the caller supplies any tick stream
  * (a rate source in production, a file source in specs — the
  * [[graft.operators.Dedup.streamingClusterRefresh]] convention) and
  * every micro-batch advances the view to the source tip, no-op when
  * nothing new committed.
  */
object ChangeStream {

  /** The view table's txn appId carrying the consumed-source-version
    * watermark.
    */
  private def watermarkApp(appId: String): String = s"cdc-view:$appId"

  /** Initialize an EMPTY view table for `groupCol` grouped (count,
    * sum) maintenance — the schema commit the first [[advanceView]]
    * fills. (Zero-partition snapshots read back as an empty relation
    * with the recorded schema, so the fresh view composes with every
    * lake read path.)
    */
  def initView(s: SparkSession, viewDir: String, groupCol: String,
      countAs: String, sumAs: String): Int = {
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        s"_vdt STRING, $groupCol BIGINT, $countAs BIGINT, " +
          s"$sumAs BIGINT, _vseq BIGINT"))
    LakeMerge.init(s, viewDir, empty, "_vdt", groupCol, "_vseq")
  }

  /** ONE incremental advance: apply the source feed from the view's
    * watermark to the source tip and commit rows + watermark in one
    * optimistic transaction. Returns the consumed source version
    * (the unchanged watermark when there was nothing new). Retries
    * on racing commits; a replayed call is a no-op.
    */
  def advanceView(s: SparkSession, srcDir: String, viewDir: String,
      appId: String, groupCol: String, sumCol: String,
      countAs: String = "n_rows", sumAs: String = "total"): Long = {
    val app = watermarkApp(appId)
    LakeMerge.retryOnConflict() {
      val srcTip = LakeMerge.latestVersion(s, srcDir).toLong
      val consumed = LakeMerge.lastTxn(s, viewDir, app)
      // a tick wired before the source's FIRST commit: latestVersion
      // is -1 and there is no snapshot to read — no-op (keep the
      // current watermark) instead of crashing the always-on query
      if (srcTip < 0) consumed.getOrElse(-1L)
      else if (consumed.exists(_ >= srcTip)) consumed.get
      else {
        val feed = consumed match {
          case Some(v) => LakeMerge.changes(s, srcDir, v.toInt,
            Some(srcTip.toInt), updatePreimages = true)
          // bootstrap = the source SNAPSHOT as inserts (the Delta
          // streaming source's initial-snapshot half): equivalent to
          // the changesSinceCreation replay for an empty view, and
          // one read instead of v0 + a diff — retract/apply pairs
          // only matter once a standing view exists
          case None => LakeMerge.read(s, srcDir, Some(srcTip.toInt))
            .withColumn("_change_type", lit("insert"))
        }
        val signed = feed.withColumn("_w",
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L))
        val delta = signed.groupBy(groupCol)
          .agg(sum(col("_w")).as("_dn"),
            sum(col("_w") * col(sumCol)).as("_dsum"))
          .localCheckpoint(true)
        // touched groups only: the view is read once, the merge
        // rewrites only the partitions the delta lands in (COW)
        val viewVersion = LakeMerge.latestVersion(s, viewDir)
        val cur = LakeMerge.read(s, viewDir, Some(viewVersion))
          .select(col(groupCol), col(countAs), col(sumAs))
        val batch = delta
          .join(cur, Seq(groupCol), "left")
          .select(col(groupCol),
            (coalesce(col(countAs), lit(0L)) + col("_dn")).as(countAs),
            (coalesce(col(sumAs), lit(0L)) + col("_dsum")).as(sumAs))
          .withColumn("op",
            when(col(countAs) <= 0, lit("delete")).otherwise(lit("upsert")))
          .withColumn("_vdt",
            pmod(col(groupCol), lit(16)).cast("string"))
          .withColumn("_vseq", lit(srcTip))
        LakeMerge.merge(s, viewDir, batch, opCol = Some("op"),
          baseVersion = Some(viewVersion), txn = Some(app -> srcTip))
        srcTip
      }
    }
  }

  /** The always-on form: every tick of `ticks` advances the view to
    * the current source tip (no-op ticks commit nothing). Zero stream
    * state — the view's manifest watermark IS the offset, so a new
    * query with a new checkpoint resumes exactly.
    */
  def streamingView(ticks: DataFrame, srcDir: String, viewDir: String,
      appId: String, groupCol: String, sumCol: String,
      countAs: String = "n_rows", sumAs: String = "total",
      ckDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    ticks.writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        advanceView(b.sparkSession, srcDir, viewDir, appId,
          groupCol, sumCol, countAs, sumAs)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  // ------------------------------------------------------- L28 mirror
  /** The ROW-LEVEL replica — the other canonical feed consumer beside
    * the aggregate view: a second lake table maintained change-for-
    * change from the source's CDC feed (replication to another
    * region/storage tier, the read-replica an analytics tenant gets,
    * the staging copy a migration cuts over to). Same contract as the
    * view: the replica's manifest txn entry IS the consumed-version
    * watermark, committed atomically with the rows — restart-safe
    * with zero stream state, exactly-once on trigger replay, CME
    * retry against racing writers. The feed is the state diff, so a
    * lagging mirror catching up over many source commits applies one
    * NET row per key, not the full intermediate churn.
    */
  /** Create an empty replica with the source's schema and merge
    * contract (dt/key/order columns). The first [[advanceMirror]]
    * fills it from the source snapshot.
    */
  def initMirror(s: SparkSession, srcDir: String, dstDir: String): Int = {
    val m = LakeMerge.manifest(s, srcDir)
    LakeMerge.init(s, dstDir, LakeMerge.read(s, srcDir).limit(0),
      m.dtCol, m.keyCol, m.orderCol)
  }

  /** ONE mirror advance: apply the source feed from the replica's
    * watermark to the source tip (bootstrap = the snapshot as
    * inserts) and commit rows + watermark in one optimistic
    * transaction. Returns the consumed source version; a replayed
    * call is a no-op.
    */
  def advanceMirror(s: SparkSession, srcDir: String, dstDir: String,
      appId: String): Long = {
    val app = s"cdc-mirror:$appId"
    LakeMerge.retryOnConflict() {
      val srcTip = LakeMerge.latestVersion(s, srcDir).toLong
      val consumed = LakeMerge.lastTxn(s, dstDir, app)
      // same pre-first-commit guard as advanceView: no snapshot yet,
      // keep the watermark, never read version -1
      if (srcTip < 0) consumed.getOrElse(-1L)
      else if (consumed.exists(_ >= srcTip)) consumed.get
      else {
        val feed = consumed match {
          case Some(v) => LakeMerge.changes(s, srcDir, v.toInt,
            Some(srcTip.toInt))
          case None => LakeMerge.read(s, srcDir, Some(srcTip.toInt))
            .withColumn("_change_type", lit("insert"))
        }
        val dstV = LakeMerge.latestVersion(s, dstDir)
        val batch = feed
          .withColumn("op",
            when(col("_change_type") === "delete", lit("delete"))
              .otherwise(lit("upsert")))
          .drop("_change_type")
        LakeMerge.merge(s, dstDir, batch, opCol = Some("op"),
          baseVersion = Some(dstV), txn = Some(app -> srcTip))
        srcTip
      }
    }
  }

  /** Always-on mirror: every tick advances the replica to the source
    * tip. Zero stream state — the replica's watermark is the offset.
    */
  def streamingMirror(ticks: DataFrame, srcDir: String, dstDir: String,
      appId: String, ckDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticks.writeStream
      .option("checkpointLocation", ckDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        advanceMirror(b.sparkSession, srcDir, dstDir, appId)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
