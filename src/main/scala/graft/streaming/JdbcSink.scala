package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** JDBC sink battery (SURVEY §2 D4) — the reference writes its star
  * schema to MySQL (ref src/database/database.py, controllers/
  * report.py). No database runs in this container, so the writer
  * configuration and the MySQL upsert SQL generation are unit-tested;
  * the connection itself is exercised only in a real deployment.
  */
object JdbcSink {

  /** Batched, rewrite-enabled JDBC options — the settings that matter
    * at scale: one multi-row INSERT per `batchsize` rows per
    * partition, `numPartitions` caps concurrent connections.
    */
  def options(url: String, table: String, user: String,
      password: String, numPartitions: Int = 8,
      batchSize: Int = 1000,
      driver: String = "com.mysql.cj.jdbc.Driver"): Map[String, String] =
    Map(
      "url" -> url,
      "dbtable" -> table,
      "user" -> user,
      "password" -> password,
      "driver" -> driver,
      "batchsize" -> batchSize.toString,
      "numPartitions" -> numPartitions.toString,
      "isolationLevel" -> "READ_COMMITTED",
      "rewriteBatchedStatements" -> "true")

  def write(df: DataFrame, url: String, table: String, user: String,
      password: String,
      driver: String = "com.mysql.cj.jdbc.Driver"): Unit =
    df.write.format("jdbc")
      .options(options(url, table, user, password, driver = driver))
      .mode(SaveMode.Append)
      .save()

  /** `INSERT IGNORE` — the reference's player/sighting insert path
    * (ref player.py:57 `.prefix_with("IGNORE")`).
    */
  def insertIgnoreSql(table: String, cols: Seq[String]): String = {
    val params = cols.map(_ => "?").mkString(", ")
    s"INSERT IGNORE INTO $table (${cols.mkString(", ")}) VALUES ($params)"
  }

  /** MySQL upsert — INSERT ... ON DUPLICATE KEY UPDATE over the
    * natural key, the batch-side equivalent of the reference's
    * NOT-EXISTS guards.
    */
  def upsertSql(table: String, cols: Seq[String],
      keyCols: Seq[String]): String = {
    val params = cols.map(_ => "?").mkString(", ")
    val updates = cols.filterNot(keyCols.contains)
      .map(c => s"$c = VALUES($c)").mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($params) " +
      s"ON DUPLICATE KEY UPDATE $updates"
  }

  /** ANSI-dialect idempotent insert: `INSERT ... SELECT ... WHERE NOT
    * EXISTS` over the natural key — literally the reference's
    * NOT-EXISTS guard (ref report.py:175-185) as one prepared
    * statement. Works on any engine with table value constructors
    * (Derby, Postgres, ...); the MySQL-specific forms above stay for
    * the reference's own target. `types` gives the CAST for each
    * placeholder so the VALUES row typechecks.
    */
  def insertIfAbsentSql(table: String, cols: Seq[String],
      keyCol: String, types: Seq[String]): String = {
    val vals = cols.zip(types)
      .map { case (_, t) => s"CAST(? AS $t)" }.mkString(", ")
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |SELECT * FROM (VALUES ($vals)) AS v(${cols.mkString(", ")})
       |WHERE NOT EXISTS (SELECT 1 FROM $table t
       |                  WHERE t.$keyCol = v.$keyCol)""".stripMargin
  }

  /** Per-partition idempotent writer: each partition opens one
    * connection and executes the INSERT IGNORE / upsert statement in
    * JDBC batches — a micro-batch retried after partial failure
    * re-sends the same keys and the unique key absorbs them, so the
    * sink stays exactly-once under at-least-once delivery (plain
    * SaveMode.Append would duplicate; ref player.py:57 prefixes
    * IGNORE for exactly this reason).
    *
    * REQUIREMENT: the target table must carry a UNIQUE/PRIMARY KEY on
    * the natural key. The NOT-EXISTS form (`insertIfAbsentSql`) is
    * check-then-insert per statement and therefore NOT atomic across
    * concurrent writers — two partitions (or a retried straggler
    * racing its twin) can both pass the check; the constraint is what
    * makes the race lose loudly (one task retries) instead of
    * silently duplicating. INSERT IGNORE / ON DUPLICATE KEY are
    * atomic given the same constraint.
    */
  def writeIdempotent(df: DataFrame, url: String, user: String,
      password: String, sql: String, batchSize: Int = 1000): Unit = {
    val cols = df.columns
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url, user, password)
        try {
          val ps = conn.prepareStatement(sql)
          var n = 0
          rows.foreach { row =>
            cols.indices.foreach(i => ps.setObject(i + 1, row.get(i)))
            ps.addBatch()
            n += 1
            if (n % batchSize == 0) ps.executeBatch()
          }
          ps.executeBatch()
          ()
        } finally conn.close()
      }
    }
  }

  /** Stream → JDBC via foreachBatch: every micro-batch goes through
    * [[writeIdempotent]] with `sql` — build it over `df.columns` with
    * [[upsertSql]] (MySQL) or [[insertIfAbsentSql]] (any ANSI engine;
    * the form the live Derby spec drives end to end). Never plain
    * appends: a replayed or partially-written micro-batch re-sends
    * keys the table already holds and its unique key absorbs them.
    */
  def streamToJdbc(df: DataFrame, url: String, user: String,
      password: String, checkpointDir: String, sql: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        writeIdempotent(batch, url, user, password, sql)
      }
      .start()
}
