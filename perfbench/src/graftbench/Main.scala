package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.json`) to the output directory. `perfbench/run.py`
  * starts it; see `perfbench/BENCH.md`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --out DIR --work DIR --fixtures DIR
  * or: --oracle-sql FILE (writes the oracle SQL of analytics_mix's queries).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("oracle-sql") match {
      case Some(f) =>
        val sql = graft.Registry.oracleSql
        Files.writeString(Paths.get(f), Json(ListMap.from(AnalyticsMix.Queries.map(q => q -> sql(q)))))
      case None =>
        // Spark's threads would keep a failed JVM alive: exit explicitly
        try run(a)
        catch { case t: Throwable => t.printStackTrace(); sys.exit(1) }
    }
    sys.exit(0)
  }

  def run(a: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))
    val work = Paths.get(a("work"))
    Files.createDirectories(out)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = Ctx(spark, seed, work, Paths.get(a("fixtures")))
    val w: Workload = workload match {
      case "series_read" => new SeriesRead(ctx)
      case "series_mutate" => new SeriesMutate(ctx)
      case "analytics_mix" => new AnalyticsMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def secs[A](f: => A): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val buildS = secs(w.build())
    val warmS = secs(w.warmup())
    if (traced) Trace.enable(spark)

    // timed region: closed loop, each client sends its next op only
    // after the previous one returned; a client stops at the first cycle
    // boundary after the deadline that leaves it at least minCycles cycles
    w.beginTimed()
    Trace.resetHeapPeak()
    val records = new ConcurrentLinkedQueue[OpRecord]()
    val gc = new ConcurrentLinkedQueue[(Long, Long)]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var i = 0
        def more = i % w.cycle != 0 || i < w.minCycles * w.cycle || System.nanoTime() < deadline
        while (more) {
          val id = c * 1000000L + i + 1
          val op = w.next(c, i)
          val g0 = Trace.gcMs
          val s = System.nanoTime()
          val res = try Right(Trace.op(spark, id, op.verb)(op.run(id)))
                    catch { case e: Throwable => Left(e) }
          val e = System.nanoTime()
          gc.add(id -> (Trace.gcMs - g0))
          val (ok, err) = res match {
            case Right(v) =>
              val good = try op.check(v) catch { case t: Throwable => false }
              (good, if (good) "" else s"${op.verb}: wrong result")
            case Left(t) => (false, s"${op.verb}: $t")
          }
          val rows = res match { case Right(Checksum.Sum(n, _)) => n; case _ => 0L }
          records.add(OpRecord(id, c, op.verb, op.kind, s, e, ok, err, rows))
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ops = records.asScala.toSeq.sortBy(_.start)
    val elapsedS = (ops.map(_.end).maxOption.getOrElse(t0) - t0) / 1e9
    // op time only: the harness's own work between ops (input
    // preparation, checks) is not the program's
    val busyS = Trace.unionNs(ops.map(o => (o.start, o.end))) / 1e9
    val heapPeak = Trace.heapPeakMb
    Thread.sleep(if (traced) 1500 else 0) // let listener events drain

    val finalOk = try w.finalCheck() catch { case e: Throwable =>
      System.err.println(s"final check failed: $e"); false }
    val failed = ops.count(!_.ok)
    val good = ops.filter(_.ok)
    val setupS = sessionS + buildS + warmS

    val e2e: Seq[(String, Metric)] =
      Seq("setup_s" -> Metric(setupS, "s", 1),
        "ops_per_s" -> Metric(good.size / busyS, "ops/s", good.size)) ++
      Stats.latencyMetrics("lat", ops) ++
      Stats.latencyMetrics("read", ops.filter(_.kind == "read")) ++
      Stats.latencyMetrics("commit", ops.filter(_.kind == "commit")) ++
      w.extraMetrics ++
      Seq("failed_ops_ratio" -> Metric(failed.toDouble / ops.size.max(1), "ratio", ops.size))

    // a query the program ran on its own reaches the listener without
    // its op; it belongs to the op whose interval holds it, when only one does
    val spans = Trace.spans.asScala.toSeq.map { s =>
      if (s.op >= 0) s
      else ops.filter(o => o.start <= s.start && s.start <= o.end) match {
        case Seq(o) => s.copy(op = o.id)
        case _ => s
      }
    }.groupBy(_.op)
    val layers: Seq[(String, Metric)] = if (!traced) Nil else layerMetrics(w, ops, spans, gc, heapPeak)

    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> (failed == 0 && finalOk && ops.nonEmpty),
      "final_check" -> finalOk,
      "attempted" -> ops.size, "failed" -> failed,
      "elapsed_s" -> elapsedS, "busy_s" -> busyS,
      "setup" -> ListMap("session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmS),
      "metrics" -> ListMap.from(e2e),
      "per_layer" -> ListMap.from(layers),
      "counts" -> ListMap.from(w.counts ++ (if (traced) Seq("exec.jobs_per_op" -> ListMap.from(ops.map(o =>
        o.id.toString -> Option(Trace.counters.get(o.id)).map(_.jobs).getOrElse(0L)))) else Nil)),
      "ops" -> ops.map(o => ListMap("id" -> o.id, "verb" -> o.verb, "ms" -> o.ms, "ok" -> o.ok)),
      "errors" -> ops.filter(!_.ok).map(_.error).distinct.take(10))
    Files.writeString(out.resolve("result.json"), Json(result))
    if (traced) Files.writeString(out.resolve("spans.json"), Json(spans.values.flatten.toSeq))
    spark.stop()
  }

  /** Per-layer metrics of a traced run: each shared metric is the median
    * over ops of its per-op value, counts included.
    */
  private def layerMetrics(w: Workload, ops: Seq[OpRecord], spans: Map[Long, Seq[Span]],
                           gc: ConcurrentLinkedQueue[(Long, Long)], heapPeak: Double): Seq[(String, Metric)] = {
    val gcOf = gc.asScala.toMap
    def ctr(o: OpRecord) = Option(Trace.counters.get(o.id)).getOrElse(new OpCounters)
    def med(name: String, unit: String)(f: OpRecord => Double) =
      name -> Metric(Stats.median(ops.map(f)), unit, ops.size)
    def jobWallNs(o: OpRecord) = Trace.unionNs(spans.getOrElse(o.id, Nil)
      .filter(s => s.layer == "exec" && s.name.startsWith("job ")).map(s => (s.start, s.end)))
    def phase(o: OpRecord, p: String) = spans.getOrElse(o.id, Nil)
      .filter(s => s.layer == "catalyst" && s.name == p).map(s => (s.end - s.start) / 1e6).sum
    val self = ops.map(o => Trace.selfTimes(spans.getOrElse(o.id, Nil)))
    val layersSeen = Seq("driver", "sources", "streaming", "operators", "catalyst", "exec")
    val reads = ops.filter(_.kind == "read")
    val examined = reads.map(ctr(_).inputRows).sum
    val returned = reads.map(_.rows).sum
    val covered = ops.zip(self).collect { case (o, st) if o.kind == "read" =>
      Seq("sources", "catalyst", "exec").map(st.getOrElse(_, 0L)).sum / 1e6 / o.ms }
    Seq(
      med("catalyst.analysis_ms", "ms")(phase(_, "analysis")),
      med("catalyst.optimization_ms", "ms")(phase(_, "optimization")),
      med("catalyst.planning_ms", "ms")(phase(_, "planning")),
      med("exec.jobs", "count")(ctr(_).jobs.toDouble),
      med("exec.stages", "count")(ctr(_).stages.toDouble),
      med("exec.tasks", "count")(ctr(_).tasks.toDouble),
      med("exec.job_wall_ms", "ms")(jobWallNs(_) / 1e6),
      med("exec.task_run_ms", "ms")(ctr(_).taskRunMs.toDouble),
      med("exec.task_cpu_ms", "ms")(ctr(_).taskCpuNs / 1e6),
      med("exec.shuffle_read_bytes", "bytes")(ctr(_).shuffleRead.toDouble),
      med("exec.shuffle_write_bytes", "bytes")(ctr(_).shuffleWrite.toDouble),
      med("exec.spill_bytes", "bytes")(ctr(_).spill.toDouble),
      med("exec.input_rows", "count")(ctr(_).inputRows.toDouble),
      med("exec.input_bytes", "bytes")(ctr(_).inputBytes.toDouble),
      med("exec.output_bytes", "bytes")(ctr(_).outputBytes.toDouble),
      "exec.failed_tasks" -> Metric(ops.map(ctr(_).failedTasks).sum.toDouble, "count", ops.size),
      med("driver.gap_ms", "ms")(o => o.ms - jobWallNs(o) / 1e6),
      med("jvm.gc_ms", "ms")(o => gcOf.getOrElse(o.id, 0L).toDouble),
      "jvm.heap_peak_mb" -> Metric(heapPeak, "MB", 1)) ++
    (if (reads.isEmpty) Nil else Seq(
      "exec.rows_examined_per_row_returned" -> Metric(examined.toDouble / returned.max(1L), "ratio",
        reads.size, s"$examined rows examined / $returned rows returned"),
      "trace.read_span_coverage" -> Metric(Stats.median(covered), "ratio", reads.size,
        "self time of resolve, catalyst and exec spans / read wall time"))) ++
    layersSeen.map(l => s"self.${l}_ms" -> Metric(Stats.median(self.map(_.getOrElse(l, 0L) / 1e6)), "ms", ops.size)) ++
    w.extraLayers(ops, spans)
  }
}
