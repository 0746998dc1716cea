package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftCatalog, StoreLog, TsStore}

/** What a workload needs from the runner. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, fixtures: Path)

/** One op: `run` is timed, `check` (untimed, still inside the client's
  * closed loop) says whether `run`'s result is correct.
  */
final case class Op(verb: String, kind: String, run: Long => Any, check: Any => Boolean)

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def clients: Int
  /** Generates the inputs and builds the store. */
  def build(): Unit
  def warmup(): Unit
  /** The `i`-th op of client `c`. */
  def next(c: Int, i: Int): Op
  /** Ops per client in one cycle of the op schedule; a client stops only
    * at a cycle boundary, after at least `minCycles` cycles.
    */
  def cycle: Int
  def minCycles: Int = 1
  /** Called just before the timed region. */
  def beginTimed(): Unit = ()
  /** Final checks after the timed region; false marks the run incorrect. */
  def finalCheck(): Boolean = true
  /** End-to-end metrics of this workload beyond the latency set. */
  def extraMetrics: Seq[(String, Metric)] = Nil
  /** Per-layer metrics of this workload beyond the shared set. */
  def extraLayers(ops: Seq[OpRecord], spans: Map[Long, Seq[Span]]): Seq[(String, Metric)] = Nil
  /** Exact counts the steadiness self-check compares across runs. */
  def counts: Seq[(String, Any)] = Nil

  def rngFor(c: Int, i: Int) = Ticks.rng(ctx.seed, 977L, c.toLong, i.toLong)

  protected def timedRead(op: Long, df: => DataFrame): Checksum.Sum = {
    val d = Trace.span("sources", "resolve")(df)
    val sum = Trace.span("exec", "collect")(Checksum.of(d))
    Trace.phases(d.queryExecution, op)
    sum
  }
}

object Fs {
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  def bytes(root: Path): Long = files(root).values.sum
}

/** Store-shape helpers shared by the two store workloads. */
trait StoreShape { self: Workload =>
  def storePath: String
  private var startFiles = Map.empty[String, Long]
  private var shapeStart = (0L, 0L)
  def shape: (Long, Long) = {
    val v = StoreLog.latestVersion(storePath).get
    (StoreLog.listVersions(storePath).size.toLong, StoreLog.liveFileCount(storePath, v))
  }
  def markStart(): Unit = {
    startFiles = Fs.files(Paths.get(storePath))
    shapeStart = shape
  }
  /** (files, bytes) added under the store directory since [[markStart]]. */
  def written: (Long, Long) = {
    val now = Fs.files(Paths.get(storePath))
    val added = now.filter { case (f, n) => startFiles.get(f).forall(_ != n) }
    (added.size.toLong, added.map { case (f, n) => n - startFiles.getOrElse(f, 0L) }.sum)
  }
  def shapeLayers: Seq[(String, Metric)] = {
    val (vEnd, fEnd) = shape
    val (files, bytes) = written
    Seq("sources.manifest_versions.start" -> Metric(shapeStart._1.toDouble, "count", 1),
      "sources.manifest_versions.end" -> Metric(vEnd.toDouble, "count", 1),
      "sources.live_files.start" -> Metric(shapeStart._2.toDouble, "count", 1),
      "sources.live_files.end" -> Metric(fEnd.toDouble, "count", 1),
      "sources.files_written" -> Metric(files.toDouble, "count", 1),
      "sources.bytes_written" -> Metric(bytes.toDouble, "bytes", 1))
  }
  def shapeCounts: Seq[(String, Any)] = {
    val (vEnd, fEnd) = shape
    Seq("sources.manifest_versions.end" -> vEnd, "sources.live_files.end" -> fEnd,
      "sources.files_written" -> written._1)
  }

  /** Median wall time and Spark job count of the read ops' resolve calls. */
  def resolveLayers(ops: Seq[OpRecord], spans: Map[Long, Seq[Span]]): Seq[(String, Metric)] = {
    val reads = ops.filter(_.kind == "read").flatMap { o =>
      spans.getOrElse(o.id, Nil).find(s => s.layer == "sources" && s.name == "resolve").map { r =>
        val jobs = spans(o.id).count(j => j.layer == "exec" && j.name.startsWith("job ") &&
          j.start >= r.start && j.start <= r.end)
        ((r.end - r.start) / 1e6, jobs.toDouble)
      }
    }
    if (reads.isEmpty) Nil
    else Seq("sources.read_resolve_ms" -> Metric(Stats.median(reads.map(_._1)), "ms", reads.size),
      "sources.read_resolve_jobs" -> Metric(Stats.median(reads.map(_._2)), "count", reads.size))
  }
}

/** Reads against a store built in set-up: many series, a few daily
  * append commits, 2 closed-loop clients.
  */
final class SeriesRead(ctx: Ctx) extends Workload(ctx) with StoreShape {
  import SeriesRead._
  val clients = 2
  var storePath: String = _

  def build(): Unit = {
    val p = ctx.work.resolve("series_read")
    for (d <- 0 until Days) {
      val rows = for (s <- 0 until Series; t <- Ticks.day(ctx.seed, s, d, TicksPerDay))
        yield (Ticks.sym(s), t)
      TsStore.write(Ticks.frame(spark, rows), p.toString, uidCols = Seq("sym"),
        mode = if (d == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    storePath = p.toString
  }

  /** Slot kinds of one cycle: 60% slices, 25% OHLC bars, 15% SQL. */
  private val Cycle = Seq.fill(12)("slice") ++ Seq.fill(5)("ohlc") ++ Seq.fill(3)("sql")

  def cycle: Int = Cycle.size

  def warmup(): Unit = Seq("slice", "ohlc", "sql").zipWithIndex.foreach {
    case (k, i) =>
      val op = make(k, Ticks.rng(ctx.seed, 31L, i.toLong))
      require(op.check(op.run(-1L)), s"warm-up $k read disagrees with the generator")
  }

  def next(c: Int, i: Int): Op = {
    val cycle = i / Cycle.size
    val perm = new scala.util.Random(Checksum.mix(ctx.seed * 131 + c * 7919 + cycle)).shuffle(Cycle)
    make(perm(i % Cycle.size), rngFor(c, i))
  }

  private def make(kind: String, r: java.util.SplittableRandom): Op = {
    val s = r.nextInt(Series)
    val d0 = r.nextInt(Days)
    val d1 = d0 + 1 + r.nextInt(Days - d0)
    val (lo, hi) = (Ticks.Day0Micros + d0 * Ticks.DayMicros, Ticks.Day0Micros + d1 * Ticks.DayMicros)
    val sym = Ticks.sym(s)
    lazy val ticks = (d0 until d1).flatMap(d => Ticks.day(ctx.seed, s, d, TicksPerDay))
      .filter(t => t.ts >= lo && t.ts < hi)
    def slice = TsStore.read(spark, storePath, uid = Some("sym" -> sym),
      start = Some(Ticks.timestamp(lo)), end = Some(Ticks.timestamp(hi - 1)), columns = SliceCols)
    def expect(rows: => Iterator[Seq[Any]]) = (got: Any) => got == Checksum.ofPlainRows(rows)
    kind match {
      case "slice" => Op("slice", "read", op => timedRead(op, slice),
        expect(ticks.iterator.map(Ticks.values(SliceCols, sym, _))))
      case "ohlc" => Op("ohlc", "read", op => timedRead(op, bars(slice)),
        expect(Ticks.bars(ticks).iterator))
      case "sql" => Op("sql", "read", op => timedRead(op, spark.sql(
        s"SELECT ${SliceCols.mkString(", ")} FROM graft_store('$storePath') " +
          s"WHERE sym = '$sym' AND ts >= TIMESTAMP '${Ticks.sqlTs(lo)}' " +
          s"AND ts < TIMESTAMP '${Ticks.sqlTs(hi)}'")),
        expect(ticks.iterator.map(Ticks.values(SliceCols, sym, _))))
    }
  }

  override def beginTimed(): Unit = markStart()

  override def extraMetrics: Seq[(String, Metric)] = {
    val live = Series.toLong * Days * TicksPerDay * Ticks.logicalBytes(Ticks.sym(0))
    Seq("space_amp" -> Metric(Fs.bytes(Paths.get(storePath)).toDouble / live, "ratio", 1))
  }

  override def extraLayers(ops: Seq[OpRecord], spans: Map[Long, Seq[Span]]) =
    resolveLayers(ops, spans) ++ shapeLayers

  override def counts = shapeCounts
}

object SeriesRead {
  val Series = 32
  val Days = 4
  val TicksPerDay = 500
  val SliceCols = Seq("sym", "ts", "tick_id", "price", "size")

  def bars(df: DataFrame): DataFrame = {
    val aggs = graft.Q.ohlcAggs(col("ts"), col("tick_id"), col("price")) ++
      Seq(sum(col("size")).as("volume"), count(lit(1)).as("n"))
    df.groupBy(window(col("ts"), "30 minutes"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").as("bar_ts"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("n"))
  }
}

/** One writer mutating a store with every commit verb, a verifying read
  * after every few commits, and a plain-Scala model of the live rows.
  */
final class SeriesMutate(ctx: Ctx) extends Workload(ctx) with StoreShape {
  import SeriesMutate._
  val clients = 1
  private def root = ctx.work.resolve("series_mutate")
  var storePath: String = _
  private var model: StoreModel = _
  private var submittedBytes = 0L
  private var touched = Set.empty[String]
  private val streamRuns = scala.collection.mutable.Map[Long, java.util.UUID]()

  def build(): Unit = {
    val path = root.resolve("ns").resolve("ticks").toString
    val m = new StoreModel
    val rows = for (s <- 0 until Series; d <- 0 until SeedDays;
                    t <- Ticks.day(ctx.seed, s, d, TicksPerDay)) yield (Ticks.sym(s), t)
    rows.foreach { case (s, t) => m.put(s, t) }
    (0 until Series).foreach(s => m.nextDay(Ticks.sym(s)) = SeedDays)
    TsStore.write(Ticks.frame(spark, rows), path, uidCols = Seq("sym"), mode = SaveMode.Overwrite)
    storePath = path
    model = m
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.root", root.toString)
  }

  /** One untimed cycle of the schedule, so that the timed cycle does not
    * pay first-use costs (class loading, JIT, codegen) of any verb.
    */
  def warmup(): Unit = Schedule.indices.foreach { i =>
    val op = next(WarmClient, i)
    require(op.check(op.run(-1L)), s"warm-up ${op.verb} disagrees with the model")
  }

  def cycle: Int = Schedule.size
  /** Two cycles cross two manifest checkpoints and run two compactions. */
  override def minCycles: Int = 2

  private def pick(r: java.util.SplittableRandom): String = Ticks.sym(r.nextInt(Series))

  /** Appends one new day of `sym` to the model and returns its rows. */
  private def newDay(sym: String, n: Int): Seq[(String, Tick)] = {
    val d = model.nextDay(sym)
    model.nextDay(sym) = d + 1
    val rows = Ticks.day(ctx.seed, Ticks.symIndex(sym), d, TicksPerDay).take(n).map(sym -> _)
    submittedBytes += rows.size * Ticks.logicalBytes(sym)
    rows
  }

  private def verify(sym: String): Op =
    Op("read", "read", op => timedRead(op, TsStore.read(spark, storePath, uid = Some("sym" -> sym))),
      got => got == model.checksum(sym))

  private def commit(verb: String)(f: Long => Any): Op =
    Op(verb, "commit", op => Trace.span("sources", verb)(f(op)), _ => true)

  def next(c: Int, i: Int): Op = {
    val r = rngFor(c, i)
    val sym = pick(r)
    Schedule(i % Schedule.size) match {
      case "read" => verify(if (touched.isEmpty) sym else touched.toSeq.sorted.apply(r.nextInt(touched.size)))
      case "append" =>
        val syms = (0 until SymsPerAppend).map(_ => pick(r)).distinct
        val rows = syms.flatMap(newDay(_, TicksPerDay))
        rows.foreach { case (s, t) => model.put(s, t) }
        touched ++= syms
        val df = Ticks.frame(spark, rows)
        commit("append")(_ => TsStore.write(df, storePath, uidCols = Seq("sym"), mode = SaveMode.Append))
      case "upsert" =>
        val live = model.rows(sym).toIndexedSeq.sortBy(_.tickId)
        val delta = (0 until 40).map(_ => live(r.nextInt(live.size))).distinctBy(_.tickId)
          .map(t => t.copy(price = t.price + 0.5, version = t.version + 1))
        delta.foreach(model.put(sym, _))
        submittedBytes += delta.size * Ticks.logicalBytes(sym)
        touched += sym
        val df = Ticks.frame(spark, delta.map(sym -> _))
        commit("upsert")(_ => TsStore.upsert(spark, storePath, df, Seq("tick_id"), "version",
          "ts", Seq("sym")))
      case "delete" =>
        val cut = 1 + r.nextInt(5)
        model.removeWhere(sym)(_.size <= cut)
        touched += sym
        commit("delete")(_ => TsStore.delete(spark, storePath,
          col("sym") === sym && col("size") <= cut, "ts", Seq("sym")))
      case "delete_dv" =>
        val cut = 96 + r.nextInt(5)
        model.removeWhere(sym)(_.size >= cut)
        touched += sym
        commit("delete_dv")(_ => TsStore.deleteVectors(spark, storePath,
          col("sym") === sym && col("size") >= cut))
      case "sql_insert" =>
        val rows = newDay(sym, TicksPerDay / 5)
        rows.foreach { case (s, t) => model.put(s, t) }
        touched += sym
        val view = s"gb_ins_$i"
        Ticks.frame(spark, rows).createOrReplaceTempView(view)
        commit("sql_insert")(_ => spark.sql(s"INSERT INTO $Table BY NAME SELECT * FROM $view"))
      case "sql_merge" =>
        val live = model.rows(sym).toIndexedSeq.sortBy(_.tickId)
        val upd = (0 until 30).map(_ => live(r.nextInt(live.size))).distinctBy(_.tickId)
          .map(t => t.copy(price = t.price - 0.25, version = t.version + 1))
        val ins = newDay(sym, 20).map(_._2)
        (upd ++ ins).foreach(model.put(sym, _))
        submittedBytes += upd.size * Ticks.logicalBytes(sym)
        touched += sym
        val view = s"gb_merge_$i"
        Ticks.frame(spark, (upd ++ ins).map(sym -> _)).createOrReplaceTempView(view)
        commit("sql_merge")(_ => spark.sql(s"MERGE INTO $Table t USING $view s " +
          "ON t.sym = s.sym AND t.tick_id = s.tick_id " +
          "WHEN MATCHED THEN UPDATE SET price = s.price, version = s.version " +
          "WHEN NOT MATCHED THEN INSERT *"))
      case "stream" =>
        val rows = newDay(sym, TicksPerDay / 5)
        rows.foreach { case (s, t) => model.put(s, t) }
        touched += sym
        val src = ctx.work.resolve("stream_src").toString
        Ticks.frame(spark, rows).write.mode("append").parquet(src)
        Op("stream", "commit", op => Trace.span("streaming", "stream") {
          val q = spark.readStream.schema(Ticks.Schema).parquet(src)
            .writeStream.format("graft-store")
            .option("path", storePath).option("tsCol", "ts").option("uids", "sym")
            .option("feedId", "perfbench")
            .option("checkpointLocation", ctx.work.resolve("stream_ckpt").toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          streamRuns.synchronized(streamRuns(op) = q.runId)
        }, _ => true)
      case "compact" =>
        // the partitions with more than one file or with a deletion
        // vector, read from the manifest as a maintenance job would
        val snap = StoreLog.read(storePath, StoreLog.latestVersion(storePath).get)
        val dirty = snap.files.groupBy(_.takeWhile(_ != '/')).collect {
          case (p, fs) if fs.size > 1 || fs.exists(snap.dvs.contains) => p
        }.toSeq.sorted
        val prefixes = if (dirty.isEmpty) Seq(s"sym=$sym") else dirty
        commit("compact")(_ => TsStore.compactPartitions(spark, storePath, prefixes, "ts", Seq("sym")))
    }
  }

  override def beginTimed(): Unit = {
    submittedBytes = 0L
    markStart()
  }

  override def finalCheck(): Boolean =
    Checksum.of(TsStore.read(spark, storePath)) == model.checksumAll

  override def extraMetrics: Seq[(String, Metric)] = Seq(
    "write_amp" -> Metric(written._2.toDouble / submittedBytes.max(1L), "ratio", 1),
    "space_amp" -> Metric(Fs.bytes(Paths.get(storePath)).toDouble / model.liveBytes, "ratio", 1))

  override def extraLayers(ops: Seq[OpRecord], spans: Map[Long, Seq[Span]]) = {
    val commits = ops.filter(_.kind == "commit")
    val perVerb = commits.groupBy(_.verb).toSeq.sortBy(_._1).flatMap { case (verb, os) =>
      val walls = os.flatMap(o => spans.getOrElse(o.id, Nil)
        .find(s => s.name == verb && (s.layer == "sources" || s.layer == "streaming"))
        .map(s => (s.end - s.start) / 1e6))
      val jobs = os.map(o => Option(Trace.counters.get(o.id)).map(_.jobs).getOrElse(0L).toDouble)
      val name = if (verb == "stream") "streaming.batch_ms" else s"sources.${verb}_ms"
      Seq(name -> Metric(Stats.median(walls), "ms", walls.size),
        s"sources.jobs_per_commit.$verb" -> Metric(Stats.median(jobs), "count", jobs.size))
    }
    val progress = Trace.streamProgress.asScala.toSeq
    val mine = streamRuns.values.toSet
    val durs = progress.filter(p => mine.contains(p._1)).map(_._2)
    def dur(k: String) = durs.flatMap(_.get(k)).map(_.toDouble)
    val stream =
      if (durs.isEmpty) Nil
      else Seq("streaming.add_batch_ms" -> Metric(Stats.median(dur("addBatch")), "ms", dur("addBatch").size),
        "streaming.wal_commit_ms" -> Metric(Stats.median(dur("walCommit")), "ms", dur("walCommit").size))
    resolveLayers(ops, spans) ++ perVerb ++ stream ++ shapeLayers
  }

  override def counts = shapeCounts
}

object SeriesMutate {
  val Series = 12
  val SeedDays = 8
  val SymsPerAppend = 3
  val WarmClient = 99
  val TicksPerDay = 500
  val Cat = "gb"
  val Table = s"$Cat.ns.ticks"
  /** The op cycle: every verb once, a verifying read after every three
    * or four. `sql_merge` currently rewrites every partition, so the verbs
    * that add files or vectors come after it and give `compact` work to do.
    */
  val Schedule = Seq("append", "upsert", "read", "delete", "sql_merge", "read",
    "delete_dv", "sql_insert", "stream", "read", "compact")
}

/** Read-only declared queries of the operator families, replayed in a
  * seed-permuted order by one client over fixed sf0.1 tables.
  */
final class AnalyticsMix(ctx: Ctx) extends Workload(ctx) {
  val clients = 1
  private val dir = ctx.fixtures.toString
  private var expected: Map[String, (Long, Long)] = _

  /** Set-up reads the oracle results; the tables load in the warm-up. */
  def build(): Unit = expected = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ctx.fixtures.resolve("expected.json").toFile)
    AnalyticsMix.Queries.map { q =>
      val e = m.get(q)
      require(e != null, s"no oracle result recorded for $q")
      q -> (e.get("rows").asLong, e.get("hash").asLong)
    }.toMap
  }

  /** One untimed pass, which also loads the tables. */
  def warmup(): Unit = AnalyticsMix.Queries.foreach { q =>
    val op = make(q); require(op.check(op.run(-1L)), s"warm-up query $q disagrees with the oracle")
  }

  private val n = AnalyticsMix.Queries.size
  def next(c: Int, i: Int): Op = {
    val perm = new scala.util.Random(Checksum.mix(ctx.seed * 17 + i / n)).shuffle(AnalyticsMix.Queries)
    make(perm(i % n))
  }
  def cycle: Int = n
  /** Three passes: the first after the warm-up still runs slower. */
  override def minCycles: Int = 3

  private def make(q: String): Op = Op(q, "read", op => {
    val df = Trace.span("operators", q)(graft.Registry.all(q).fn(spark, dir))
    val sum = Trace.span("exec", "collect")(Checksum.of(df))
    Trace.phases(df.queryExecution, op)
    sum
  }, got => { val (rows, hash) = expected(q); got == Checksum.Sum(rows, hash) })

  override def extraLayers(ops: Seq[OpRecord], spans: Map[Long, Seq[Span]]) =
    ops.groupBy(o => AnalyticsMix.family(o.verb)).toSeq.sortBy(_._1).map { case (f, os) =>
      s"operators.${f}_ms" -> Metric(Stats.median(os.map(_.ms)), "ms", os.size)
    }
}

object AnalyticsMix {
  /** Declared read-only queries of the ts_, win_, agg_, join_, q*, llm_,
    * fn_ and mm_ families, all with a DuckDB oracle.
    * `agg_vwap` is left out: it fails the oracle check on these tables,
    * see BENCH.md.
    */
  val Queries: Seq[String] = Seq(
    "ts_slice", "ts_resample_5m", "ts_m4", "ts_returns",
    "win_running", "win_movavg_rows",
    "agg_distinct", "agg_group",
    "join_inner", "join_semi",
    "q6_forecast", "q12_priority",
    "llm_tokens", "llm_dedup_exact",
    "fn_json", "fn_math",
    "mm_meta", "mm_frames")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case f if f.matches("q\\d+") => "tpch"
    case f => f
  }
}
