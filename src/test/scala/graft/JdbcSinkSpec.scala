package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import graft.streaming.JdbcSink

/** D4 against a LIVE database: Spark ships embedded Derby, so the
  * JDBC write path and the idempotent per-partition writer run
  * against a real engine — not just SQL-string unit tests. (MySQL
  * dialect strings stay unit-tested in OperatorsSpec; Derby exercises
  * the ANSI NOT-EXISTS form and the actual connection/batch/commit
  * machinery.)
  */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def withConn[A](f: java.sql.Connection => A): A = {
    Class.forName(driver)
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def count(table: String): Long = withConn { c =>
    val rs = c.createStatement().executeQuery(s"SELECT count(*) FROM $table")
    rs.next(); rs.getLong(1)
  }

  test("writeIdempotent into Derby: replay adds no rows (live NOT EXISTS)") {
    withConn(_.createStatement().execute(
      "CREATE TABLE reports (event_id BIGINT PRIMARY KEY, user_id BIGINT)"))
    val sql = JdbcSink.insertIfAbsentSql("reports",
      Seq("event_id", "user_id"), "event_id", Seq("BIGINT", "BIGINT"))
    val batch = Tables.events(spark, sf)
      .select("event_id", "user_id").limit(100)

    JdbcSink.writeIdempotent(batch, url, "", "", sql)
    assert(count("reports") === 100L)

    // the at-least-once retry: same batch again, plus 50 fresh rows
    val retry = Tables.events(spark, sf)
      .select("event_id", "user_id").limit(150)
    JdbcSink.writeIdempotent(retry, url, "", "", sql)
    assert(count("reports") === 150L,
      "replayed keys absorbed, fresh keys inserted")
  }

  test("streaming pipe into Derby: full replay adds no rows") {
    // the reference's REAL sink shape — Kafka-shaped stream into a
    // unique-keyed SQL table — live end to end: stream the events
    // file through foreachBatch → NOT-EXISTS insert, then force a
    // complete replay (fresh checkpoint, same file) and prove the
    // at-least-once source still yields an exactly-once table.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    withConn(_.createStatement().execute(
      "CREATE TABLE fact_stream (event_id BIGINT PRIMARY KEY, " +
        "user_id BIGINT, event_type VARCHAR(32))"))
    val in = Files.createTempDirectory("graft_jdbc_in").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val run = (ck: String) => {
      val src = graft.streaming.ReportStream
        .fileSource(spark, in, Tables.eventsRaw(spark, sf))
        .select("event_id", "user_id", "event_type")
      val q = JdbcSink.streamToJdbc(src, url, "", "", ck,
        JdbcSink.insertIfAbsentSql("fact_stream", src.columns.toSeq,
          "event_id", Seq("BIGINT", "BIGINT", "VARCHAR(32)")),
        trigger = Trigger.AvailableNow())
      q.awaitTermination(120000)
      q.stop()
    }
    run(Files.createTempDirectory("graft_jdbc_ck1").toString)
    val n = count("fact_stream")
    assert(n === Tables.events(spark, sf).count())
    // fresh checkpoint = the whole file replays from scratch
    run(Files.createTempDirectory("graft_jdbc_ck2").toString)
    assert(count("fact_stream") === n,
      "full replay must be absorbed by the NOT-EXISTS guard")
  }

  test("exactly-once under a crash INSIDE the foreachBatch commit: " +
    "insert durable, checkpoint not — the replayed batch is absorbed " +
    "(r14 verdict #7, the torn-batch case MySQL's INSERT IGNORE covers)") {
    // D14 replayed a COMPLETE stream from a fresh checkpoint; this
    // pins the sharper failure: the process dies AFTER the JDBC
    // insert is durable but BEFORE the streaming commit log records
    // the batch. On restart Spark re-runs the batch from the offsets
    // WAL — at-least-once delivery by construction — and the
    // NOT-EXISTS guard is the only thing standing between that and
    // duplicate rows. A plain appender would double every row here.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    withConn(_.createStatement().execute(
      "CREATE TABLE torn_stream (event_id BIGINT PRIMARY KEY, " +
        "user_id BIGINT)"))
    val in = Files.createTempDirectory("graft_torn_in").toString
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // ONE checkpoint dir shared across the crash and the restart —
    // the torn state under test
    val ck = Files.createTempDirectory("graft_torn_ck").toString
    val sql = JdbcSink.insertIfAbsentSql("torn_stream",
      Seq("event_id", "user_id"), "event_id", Seq("BIGINT", "BIGINT"))
    def start(crashAfterInsert: Boolean) = {
      val src = graft.streaming.ReportStream
        .fileSource(spark, in, Tables.eventsRaw(spark, sf))
        .select("event_id", "user_id")
      src.writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          JdbcSink.writeIdempotent(batch, url, "", "", sql)
          if (crashAfterInsert)
            throw new RuntimeException(
              "torn-batch chaos: died post-insert, pre-checkpoint")
        }
        .start()
    }
    val total = Tables.events(spark, sf).count()
    // run 1: the insert lands, then the "process" dies before the
    // batch commit is checkpointed
    val q1 = start(crashAfterInsert = true)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(120000)
    }
    q1.stop()
    assert(count("torn_stream") === total,
      "the torn half: rows are durable in the database")
    // run 2: SAME checkpoint — Spark replays the uncommitted batch;
    // the guard must absorb every key without erroring
    val q2 = start(crashAfterInsert = false)
    q2.awaitTermination(120000)
    q2.stop()
    assert(count("torn_stream") === total,
      "the replayed batch must be absorbed key-for-key, no duplicates")
  }

  test("Spark jdbc writer + reader round-trip through Derby") {
    val df = Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal").limit(20)
    JdbcSink.write(df, url, "customers", "", "", driver = driver)
    val back = spark.read.format("jdbc")
      .options(JdbcSink.options(url, "customers", "", "", driver = driver))
      .load()
    assert(back.count() === 20)
    assert(back.agg(sum("c_custkey")).head().getLong(0) ===
      df.agg(sum("c_custkey")).head().getLong(0))
  }
}
