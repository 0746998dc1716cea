package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Constraints, StoreLog, Tables, TsStore}

/** Table CHECK constraints (Constraints.scala): write-path enforcement
  * across every ingest face (SQL INSERT, Scala append/upsert, cow and
  * delta DML, the streaming sink), SQL CHECK null semantics, ADD-time
  * validation against existing data, and the DDL interplay guards.
  */
class ConstraintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val events = Tables.events(spark, TestSpark.sf001)
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

  private var catSeq = 0
  /** A fresh catalog-backed table with the given TBLPROPERTIES clause,
    * loaded with the non-negative-value slice of the events fixture.
    */
  private def freshTable(tblProps: String): (String, String) = {
    catSeq += 1
    val cat = s"gck$catSeq"
    val root = Files.createTempDirectory(s"graft_ck$catSeq").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    spark.sql(
      s"""CREATE TABLE $cat.ns.t (
         |  event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
         |  event_type STRING, value DOUBLE)
         |USING graft PARTITIONED BY (event_type) $tblProps""".stripMargin)
    events.select(cols.map(col): _*).filter(col("value") >= 0)
      .createOrReplaceTempView(s"ck_src_$catSeq")
    spark.sql(s"INSERT INTO $cat.ns.t SELECT * FROM ck_src_$catSeq")
    (s"$cat.ns.t", s"$root/ns/t")
  }

  private def violates[T](body: => T): String = {
    val e = intercept[Exception](body)
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).filter(_ != null).mkString(" | ")
    assert(msg.contains("CHECK constraint"), s"wanted a CHECK violation, got: $msg")
    msg
  }

  test("SQL INSERT refuses a violating row atomically; valid inserts pass") {
    val (t, path) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
    val before = StoreLog.latest(path).get
    val n0 = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
    val msg = violates(spark.sql(
      s"INSERT INTO $t VALUES (900001, TIMESTAMP'2024-01-01 00:00:00', " +
        "1, 'view', -5.0)"))
    assert(msg.contains("vpos"))
    // atomic: the failed INSERT committed nothing (manifest unchanged)
    assert(StoreLog.latest(path).get.version === before.version)
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === n0)
    // valid rows (and a NULL — SQL CHECK: unknown passes) still insert
    spark.sql(s"INSERT INTO $t VALUES " +
      "(900002, TIMESTAMP'2024-01-01 00:00:01', 1, 'view', 3.5), " +
      "(900003, TIMESTAMP'2024-01-01 00:00:02', 1, 'view', NULL)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) === n0 + 2)
  }

  test("cow UPDATE and dv-mode UPDATE refuse a violating assignment") {
    val (t, path) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
    val v0 = StoreLog.latest(path).get.version
    violates(spark.sql(s"UPDATE $t SET value = -1.0 WHERE event_id % 10 = 3"))
    assert(StoreLog.latest(path).get.version === v0, "failed UPDATE must not commit")
    spark.sql(s"UPDATE $t SET value = value + 1 WHERE event_id % 10 = 3")
    assert(StoreLog.latest(path).get.version > v0)

    val (t2, path2) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0', 'delete.mode' = 'dv')")
    val v2 = StoreLog.latest(path2).get.version
    violates(spark.sql(s"UPDATE $t2 SET value = -2.0 WHERE event_id % 10 = 4"))
    assert(StoreLog.latest(path2).get.version === v2)
    // deletes never violate (removal can't break a CHECK)
    spark.sql(s"DELETE FROM $t2 WHERE event_id % 10 = 4")
    assert(StoreLog.latest(path2).get.version > v2)
  }

  test("Scala append and upsert enforce the store's constraints") {
    val (_, path) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
    import org.apache.spark.sql.SaveMode
    val bad = Seq((990001L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1L, "view", -9.0)).toDF(cols: _*)
    violates(TsStore.write(bad, path, tsCol = "ts",
      uidCols = Seq("event_type"), mode = SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow))
    violates(TsStore.upsert(spark, path,
      bad.withColumn("version", lit(2L)),
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type")))
    val good = Seq((990002L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
      1L, "view", 9.0)).toDF(cols: _*)
    TsStore.write(good, path, tsCol = "ts", uidCols = Seq("event_type"),
      mode = SaveMode.Append, overlapPolicy = TsStore.OverlapPolicy.Allow)
    assert(TsStore.load(spark, path).filter(col("event_id") === 990002L)
      .count() === 1L)
  }

  test("ADD constraint validates existing data; UNSET re-opens the gate") {
    val (t, path) = freshTable("")
    // fixture has value >= 0 rows only — this ADD validates and holds
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
    violates(spark.sql(
      s"INSERT INTO $t VALUES (910001, TIMESTAMP'2024-01-01 00:00:00', " +
        "1, 'view', -1.0)"))
    // a constraint the live rows violate REFUSES at ADD time
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES('constraint.impossible' = 'value > 1e12')"))
    assert(e.getMessage.contains("existing rows violate"))
    assert(!StoreLog.latest(path).get.props.contains("constraint.impossible"))
    // UNSET removes the gate
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('constraint.vpos')")
    spark.sql(s"INSERT INTO $t VALUES (910002, TIMESTAMP'2024-01-01 00:00:00', " +
      "1, 'view', -1.0)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value < 0").head()
      .getLong(0) === 1L)
  }

  test("malformed constraints refuse at DDL time, not first INSERT") {
    val (t, _) = freshTable("")
    // unknown column dies in the analyzer
    assert(intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES('constraint.bad' = 'no_such_col > 0')"))
      .getMessage.toLowerCase.contains("no_such_col"))
    // aggregates cannot gate single rows
    assert(intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES('constraint.agg' = 'sum(value) > 0')"))
      .getMessage.contains("row-level"))
    // CREATE TABLE validates too (same catalog as this test's table)
    val cat = t.split('.').head
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.ns.bad (a BIGINT, ts TIMESTAMP) USING graft " +
        "TBLPROPERTIES('constraint.bad' = 'b > 0')"))
    assert(e.getMessage.toLowerCase.contains("b"))
  }

  test("DROP / RENAME of a constrained column refuse; widening re-binds") {
    val (t, _) = freshTable(
      "TBLPROPERTIES('constraint.upos' = 'user_id >= 0')")
    assert(intercept[Exception](spark.sql(
      s"ALTER TABLE $t DROP COLUMN user_id")).getMessage.contains("upos"))
    assert(intercept[Exception](spark.sql(
      s"ALTER TABLE $t RENAME COLUMN user_id TO uid")).getMessage.contains("upos"))
    // UNSET first, then the DDL goes through — and a re-SET under the
    // new name re-validates and gates again
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES('constraint.upos')")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN user_id TO uid")
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES('constraint.upos2' = 'uid >= 0')")
    violates(spark.sql(
      s"INSERT INTO $t VALUES (920001, TIMESTAMP'2024-01-01 00:00:00', " +
        "-1, 'view', 1.0)"))
  }

  test("streaming append sink enforces constraints per epoch") {
    val (_, path) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF(cols: _*)
    val ckpt = Files.createTempDirectory("graft_ck_stream").toString
    val q = df.writeStream.format("graft-store")
      .option("path", path).option("tsCol", "ts")
      .option("uids", "event_type").option("feedId", "ckfeed")
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((980001L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"),
        1L, "view", -4.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msg.contains("CHECK constraint") && msg.contains("vpos"))
    } finally q.stop()
    // the violating epoch committed nothing
    assert(TsStore.load(spark, path).filter(col("event_id") === 980001L)
      .count() === 0L)
  }

  test("CTAS with a constraint gates its own SELECT rows") {
    catSeq += 1
    val cat = s"gck$catSeq"
    val root = Files.createTempDirectory(s"graft_ck$catSeq").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
    events.select(cols.map(col): _*).createOrReplaceTempView("ck_ctas_src")
    // the source carries violating rows — the CTAS write itself refuses
    // (createTable commits the constraint, the CTAS insert binds it)
    val hasNeg = events.filter(col("value") < 0).limit(1).count() > 0
    if (hasNeg) {
      violates(spark.sql(s"CREATE TABLE $cat.ns.bad USING graft " +
        "PARTITIONED BY (event_type) " +
        "TBLPROPERTIES('constraint.vpos' = 'value >= 0') " +
        "AS SELECT * FROM ck_ctas_src"))
    }
    // a clean source lands and the gate holds afterwards
    spark.sql(s"CREATE TABLE $cat.ns.good USING graft " +
      "PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0') " +
      "AS SELECT * FROM ck_ctas_src WHERE value >= 0")
    violates(spark.sql(s"INSERT INTO $cat.ns.good VALUES " +
      "(930001, TIMESTAMP'2024-01-01 00:00:00', 1, 'view', -1.0)"))
  }

  test("delete-only MERGE on a constrained dv table executes (deletes can't violate)") {
    val (t, path) = freshTable(
      "TBLPROPERTIES('constraint.vpos' = 'value >= 0', 'delete.mode' = 'dv')")
    val v0 = StoreLog.latest(path).get.version
    events.select(col("event_id")).filter(col("event_id") % 9 === 2)
      .createOrReplaceTempView("ck_del_keys")
    // a delete-only MERGE's row schema carries no data columns — the
    // constraint on `value` must not refuse the legal operation
    spark.sql(s"MERGE INTO $t g USING ck_del_keys k " +
      "ON g.event_id = k.event_id WHEN MATCHED THEN DELETE")
    assert(StoreLog.latest(path).get.version > v0)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE event_id % 9 = 2")
      .head().getLong(0) === 0L)
  }

  test("subquery constraints refuse at DDL time (they'd be unevaluable per row)") {
    val (t, _) = freshTable("")
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $t " +
      "SET TBLPROPERTIES('constraint.sub' = 'value > (SELECT 0)')"))
    assert(e.getMessage.contains("subqueries"),
      s"wanted the subquery refusal, got: ${e.getMessage}")
    // the table still writes normally afterwards (nothing committed)
    spark.sql(s"INSERT INTO $t VALUES (940001, TIMESTAMP'2024-01-01 00:00:00', " +
      "1, 'view', 1.0)")
  }

  test("bind refuses non-deterministic expressions") {
    val schema = events.select(cols.map(col): _*).schema
    val e = intercept[Exception](Constraints.bind(spark, schema,
      Seq(Constraints.Check("rnd", "rand() > 0.5"))))
    assert(e.getMessage.contains("deterministic"))
  }

  /** Any NOT-NULL refusal: graft's synthesized guard (`notnull_<col>`)
    * or Spark's own non-nullable output resolver — both are correct
    * enforcement points depending on the write face.
    */
  private def refusesNull[T](body: => T): String = {
    val e = intercept[Exception](body)
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).filter(_ != null).mkString(" | ")
    assert(msg.contains("notnull_") || msg.toLowerCase.contains("null"),
      s"wanted a NOT NULL refusal, got: $msg")
    msg
  }

  test("SET NOT NULL validates existing data and gates SQL + Scala writes; DROP lifts") {
    import org.apache.spark.sql.SaveMode
    val (t, path) = freshTable("")
    // existing NULLs refuse the ALTER (whole-table invariant, like ADD)
    spark.sql(s"INSERT INTO $t VALUES (950000, TIMESTAMP'2024-01-01 00:00:00', " +
      "1, 'view', NULL)")
    val cat = t.split('.').head
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.set_not_null('ns.t', 'value')"))
    assert(e.getMessage.contains("existing rows violate"),
      s"wanted the existing-data refusal, got: ${e.getMessage}")
    assert(!StoreLog.latest(path).get.props.contains(Constraints.NotNullProp))
    // clean the NULL row — then SET certifies and commits
    spark.sql(s"DELETE FROM $t WHERE event_id = 950000")
    spark.sql(s"CALL $cat.system.set_not_null('ns.t', 'value')")
    assert(StoreLog.latest(path).get.props
      .get(Constraints.NotNullProp).contains("value"))
    // SQL INSERT of a NULL refuses (Spark's non-nullable resolver or
    // the graft guard — either enforcement point is correct)
    refusesNull(spark.sql(s"INSERT INTO $t VALUES " +
      "(950001, TIMESTAMP'2024-01-01 00:00:01', 1, 'view', NULL)"))
    // the Scala paths bypass Spark's resolver — the synthesized CHECK
    // inside the write lineage must catch
    val badDf = Seq((950002L, java.sql.Timestamp.valueOf("2034-01-01 00:00:00"),
      1L, "view", Option.empty[Double])).toDF(cols: _*)
    val m1 = violates(TsStore.write(badDf, path, tsCol = "ts",
      uidCols = Seq("event_type"), mode = SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow))
    assert(m1.contains("notnull_value"))
    violates(TsStore.upsert(spark, path, badDf.withColumn("version", lit(2L)),
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type")))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value IS NULL")
      .head().getLong(0) === 0L)
    // DROP NOT NULL lifts the invariant
    spark.sql(s"ALTER TABLE $t ALTER COLUMN value DROP NOT NULL")
    assert(!StoreLog.latest(path).get.props.contains(Constraints.NotNullProp))
    spark.sql(s"INSERT INTO $t VALUES " +
      "(950003, TIMESTAMP'2024-01-01 00:00:02', 1, 'view', NULL)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE event_id = 950003")
      .head().getLong(0) === 1L)
  }

  test("NOT NULL gates the delta-DML insert/update paths; DROP COLUMN refuses while set") {
    val (t, path) = freshTable("TBLPROPERTIES('delete.mode' = 'dv')")
    spark.sql(s"CALL ${t.split('.').head}.system.set_not_null('ns.t', 'value')")
    // MERGE not-matched INSERT of a NULL value (the delta insert path)
    Seq(960001L).toDF("event_id").createOrReplaceTempView("nn_merge_src")
    refusesNull(spark.sql(s"MERGE INTO $t g USING nn_merge_src s " +
      "ON g.event_id = s.event_id WHEN NOT MATCHED THEN INSERT " +
      "(event_id, ts, user_id, event_type, value) VALUES " +
      "(s.event_id, TIMESTAMP'2031-01-01 00:00:00', 1, 'view', NULL)"))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE event_id = 960001")
      .head().getLong(0) === 0L)
    // dv UPDATE assigning NULL (the delta update path)
    refusesNull(spark.sql(s"UPDATE $t SET value = NULL WHERE event_id % 10 = 7"))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value IS NULL")
      .head().getLong(0) === 0L)
    // DROP COLUMN refuses while the column carries NOT NULL
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN value"))
    assert(e.getMessage.contains("notnull_value"),
      s"wanted the NOT NULL drop refusal, got: ${e.getMessage}")
  }

  test("append racing a concurrent ADD CONSTRAINT aborts — unchecked rows never land") {
    import org.apache.spark.sql.{DataFrame, SaveMode}
    // one race per append door: the Scala `TsStore.write` append and the
    // SQL `INSERT INTO` on a catalog table (the native DSv2 writer)
    val doors: Seq[(String, () => (String, DataFrame => Unit))] = Seq(
      "TsStore.write" -> { () =>
        val dir = Files.createTempDirectory("graft_ck_race").toString
        TsStore.write(events.select(cols.map(col): _*).filter(col("value") >= 0),
          dir, tsCol = "ts", uidCols = Seq("event_type"))
        StoreLog.ensure(dir)
        (dir, (bad: DataFrame) =>
          TsStore.write(bad, dir, tsCol = "ts", uidCols = Seq("event_type"),
            mode = SaveMode.Append,
            overlapPolicy = TsStore.OverlapPolicy.Allow))
      },
      "INSERT INTO" -> { () =>
        val (t, dir) = freshTable("")
        (dir, (bad: DataFrame) => {
          bad.createOrReplaceTempView("ck_race_src")
          spark.sql(s"INSERT INTO $t SELECT * FROM ck_race_src")
          ()
        })
      })
    doors.foreach { case (door, setup) =>
      val (dir, append) = setup()
      // an append whose source lineage BLOCKS mid-write: the writer binds
      // its (empty) constraint set at entry, its first job over the
      // source signals `started` and parks on `gate` — the deterministic
      // window in which the ALTER ADD lands. Without the commit-time
      // addedSince recheck, the unblocked append would then CAS-commit a
      // violating row AFTER the constraint's whole-table certification.
      val started = new java.util.concurrent.CountDownLatch(1)
      val gate = new java.util.concurrent.CountDownLatch(1)
      ConstraintRaceGate.started.set(started)
      ConstraintRaceGate.gate.set(gate)
      val block = udf((v: Double) => ConstraintRaceGate.hit(v))
      // a Range source (not a local relation) so no optimizer rule
      // evaluates the blocking UDF before the write binds its checks
      val bad = spark.range(1).select(lit(990101L).as("event_id"),
          lit(java.sql.Timestamp.valueOf("2032-01-01 00:00:00")).as("ts"),
          lit(1L).as("user_id"), lit("view").as("event_type"),
          (col("id") - 7).cast("double").as("value"))
        .withColumn("value", block(col("value")))
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      try {
        val fut = pool.submit(new java.util.concurrent.Callable[Throwable] {
          override def call(): Throwable =
            try { append(bad); null } catch { case t: Throwable => t }
        })
        assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS),
          s"$door: the append never started evaluating its write lineage")
        // the ALTER: committed rows are all clean, so the existing-data
        // scan certifies the invariant (staged files are invisible), and
        // the props commit lands while the append is parked
        Constraints.validateAdd(spark, dir,
          events.select(cols.map(col): _*).schema,
          Constraints.Check("vpos", "value >= 0"))
        val cur = StoreLog.latest(dir).get
        StoreLog.commit(dir, cur.version, Seq.empty, cur.files,
          parent = Some(cur), setProps = Map("constraint.vpos" -> "value >= 0"))
        gate.countDown()
        val err = fut.get(120, java.util.concurrent.TimeUnit.SECONDS)
        assert(err != null, s"$door: the racing append must NOT commit")
        val msg = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).mkString(" | ")
        assert(msg.contains("added concurrently") && msg.contains("vpos"),
          s"$door: wanted the concurrent-ADD abort, got: $msg")
        // the invariant the ALTER certified actually holds...
        assert(TsStore.load(spark, dir).filter(col("value") < 0).count() === 0L,
          door)
        // ...and the abort cleaned up its adopted files (no orphans)
        assert(StoreLog.listDataFiles(dir).toSet ===
          StoreLog.latest(dir).get.files.toSet, door)
      } finally {
        gate.countDown() // never leave the worker parked on failure
        pool.shutdownNow()
        ConstraintRaceGate.started.set(null)
        ConstraintRaceGate.gate.set(null)
      }
    }
  }

  test("a constraint added mid-stream gates the NEXT epoch (per-epoch rebind)") {
    val (t, path) = freshTable("") // no constraint at stream start
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF(cols: _*)
    val ckpt = Files.createTempDirectory("graft_ck_stream2").toString
    val q = df.writeStream.format("graft-store")
      .option("path", path).option("tsCol", "ts")
      .option("uids", "event_type").option("feedId", "ckfeed2")
      .option("checkpointLocation", ckpt).start()
    try {
      // epoch 1: negative value is legal — no constraint yet
      mem.addData((981001L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"),
        1L, "view", -4.0))
      q.processAllAvailable()
      assert(TsStore.load(spark, path).filter(col("event_id") === 981001L)
        .count() === 1L)
      // ADD lands between epochs — the running query must rebind and
      // refuse the next epoch's violation WITHOUT a restart (the
      // bind-at-start design silently ignored it until restart).
      // The 981001 row makes 'value >= 0' invalid; gate event_ids instead.
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES(" +
        "'constraint.smallid' = 'event_id < 982000')")
      mem.addData((982001L, java.sql.Timestamp.valueOf("2031-01-01 00:00:01"),
        1L, "view", 4.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
      assert(msg.contains("CHECK constraint") && msg.contains("smallid"),
        s"wanted the rebound constraint to gate epoch 2, got: $msg")
      assert(TsStore.load(spark, path).filter(col("event_id") === 982001L)
        .count() === 0L)
    } finally q.stop()
  }
}

/** Rendezvous seam for the ADD-CONSTRAINT race test: the blocking UDF
  * runs in executor threads of the same local JVM.
  */
object ConstraintRaceGate {
  val started = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.CountDownLatch](null)
  val gate = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.CountDownLatch](null)
  def hit(v: Double): Double = {
    val s = started.get(); if (s != null) s.countDown()
    val g = gate.get()
    if (g != null) g.await(60, java.util.concurrent.TimeUnit.SECONDS)
    v
  }
}
