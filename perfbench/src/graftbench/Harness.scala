package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed-loop, single-client benchmark harness over `SparkEntry.queries`.
  *
  * One JVM, one session built with `graft.Bench`'s exact conf and warm-up
  * actions. Each query is timed from the call `fn(spark, dir)` until its
  * result has been fully produced into the `noop` sink; the next query
  * starts only after that. Between queries the harness clears all
  * cross-query state (see `resetState`).
  *
  * After the session is built and warmed it prints `READY` (the launcher
  * times set-up up to that line); with `--setup-only` it stops there.
  * Otherwise it runs one cold pass, in which each
  * query's result, once timed, is also written as parquet (untimed) for the
  * oracle compare, and then `--passes` warm passes. With `--trace 1` the
  * warm passes alternate untraced and traced, starting and ending untraced,
  * and the traced ones also time a `count()` of each result. Results go to `<out>/result.json`, spans to `<out>/spans.jsonl`.
  */
object Harness {
  final case class Sample(query: String, pass: Int, wallNs: Long, cpuNs: Long,
      error: Option[String])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads), ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = opt("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"${opt("data")}/lineitem.parquet").limit(10).count()
    println("READY")
    System.out.flush()
    try if (!opt.contains("setup-only")) new Run(spark, opt).run() finally spark.stop()
  }

  /** `graft.Bench`'s inter-query reset, plus `PipelineQueries.reset()`,
    * which Bench skips: without it warm passes reuse the first pass's
    * memoized cluster labels and time less work than the cold pass. */
  def resetState(spark: SparkSession): Unit = {
    graft.queries.DedupQueries.reset()
    graft.queries.GraphQueries.reset()
    graft.queries.PipelineQueries.reset()
    graft.Tables.reset()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Resets the kernel's peak-RSS mark (VmHWM) to the current RSS. */
  def resetHwm(): Unit =
    scala.util.Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes))

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** (collections, ms) summed over the JVM's collectors. */
  def gcTotals(): (Long, Long) =
    (gcBeans.stream().mapToLong(_.getCollectionCount).sum,
      gcBeans.stream().mapToLong(_.getCollectionTime).sum)

  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  private final class Run(spark: SparkSession, opt: Map[String, String]) {
    private val data = opt("data")
    private val out = opt("out")
    private val names = opt("queries").split(",").toSeq
    private val registry = SparkEntry.queries
    require(names.forall(registry.contains),
      s"not in the registry: ${names.filterNot(registry.contains).mkString(", ")}")
    private val rng = new scala.util.Random(opt("seed").toLong)
    private val traced = opt("trace") == "1"
    private val cores = opt("cpus").toInt

    private val samples = ArrayBuffer.empty[Sample]
    private val passes = ArrayBuffer.empty[String]
    private val queryTraces = ArrayBuffer.empty[String]
    private val checkErrors = scala.collection.mutable.Map.empty[String, String]
    private lazy val tracer = new Tracer(spark)

    def run(): Unit = {
      val runStart = System.currentTimeMillis()
      pass(0, None)
      val oracle = names.map(q => q -> SparkEntry.oracleSql.get(q)).toMap
      Files.write(Paths.get(out, "oracle_sql.json"), Json.value(oracle).getBytes("UTF-8"))
      // even passes are traced in a traced run, so each traced pass sits
      // between two untraced ones and the overhead is read against both
      val warm = opt("passes").toInt
      for (i <- 1 to (if (traced) warm | 1 else warm)) {
        if (traced && i % 2 == 0) {
          tracer.attach()
          try pass(i, Some(tracer)) finally tracer.detach()
        } else pass(i, None)
      }
      val runEnd = System.currentTimeMillis()
      if (traced) {
        tracer.span("run", "run", "", runStart, runEnd, "workload" -> opt("workload"))
        Files.write(Paths.get(out, "spans.jsonl"),
          tracer.spans.mkString("", "\n", "\n").getBytes("UTF-8"))
      }
      val result = Json.obj(
        "samples" -> samples.map(s => Map("query" -> s.query, "pass" -> s.pass,
          "wall_ns" -> s.wallNs, "cpu_ns" -> s.cpuNs, "error" -> s.error)),
        "passes" -> passes.map(Json.Raw),
        "query_traces" -> queryTraces.map(Json.Raw),
        "check_errors" -> checkErrors.toMap,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
      Files.write(Paths.get(out, "result.json"), result.getBytes("UTF-8"))
    }

    private def pass(idx: Int, tr: Option[Tracer]): Unit = {
      resetHwm()
      val (gcs0, gcMs0) = gcTotals()
      val start = System.currentTimeMillis()
      var wall, cpu = 0L
      var failed = 0
      rng.shuffle(names).foreach { q =>
        val s = tr.fold(timed(q, idx, check = idx == 0))(t => timedTraced(q, idx, t))
        samples += s
        if (s.error.isEmpty) { wall += s.wallNs; cpu += s.cpuNs } else failed += 1
      }
      val (gcs1, gcMs1) = gcTotals()
      passes += Json.obj("pass" -> idx, "traced" -> tr.isDefined, "wall_ns" -> wall,
        "cpu_ns" -> cpu, "failed" -> failed, "vm_hwm_kb" -> vmHwmKb(),
        "gcs" -> (gcs1 - gcs0), "gc_ms" -> (gcMs1 - gcMs0))
      tr.foreach(_.span("pass", s"pass-$idx", "run", start, System.currentTimeMillis()))
    }

    private def run(q: String): DataFrame = registry(q)(spark, data)

    /** With `check`, the result is also written, after the timed window,
      * as parquet for the oracle compare. */
    private def timed(q: String, idx: Int, check: Boolean): Sample = {
      resetState(spark)
      val c0 = processCpuNs()
      val t0 = System.nanoTime()
      val sample = try {
        val df = run(q)
        df.write.format("noop").mode("overwrite").save()
        val s = Sample(q, idx, System.nanoTime() - t0, processCpuNs() - c0, None)
        if (check) {
          try df.write.mode("overwrite").parquet(s"$out/check/$q")
          catch { case e: Throwable => checkErrors(q) = message(e) }
        }
        s
      } catch { case e: Throwable => Sample(q, idx, -1L, -1L, Some(message(e))) }
      sample.error.filter(_ => check).foreach(checkErrors(q) = _)
      sample
    }

    /** One traced query: build, noop action and count action as separate
      * phases, each drained before the next; the wall (build + noop)
      * excludes the drains and the count. */
    private def timedTraced(q: String, idx: Int, tr: Tracer): Sample = {
      resetState(spark)
      val id = s"pass-$idx/$q"
      var cpuNs = 0L
      def phase[T](name: String)(body: => T): (T, PhaseStats, Long, Long, Long) = {
        val st = tr.begin(s"$id/$name")
        val ms0 = System.currentTimeMillis()
        val c0 = processCpuNs()
        val t0 = System.nanoTime()
        try {
          val v = body
          val ns = System.nanoTime() - t0
          if (name != "count") cpuNs += processCpuNs() - c0
          (v, st, ns, ms0, System.currentTimeMillis())
        } finally tr.end()
      }
      try {
        val (df, b, buildNs, b0, b1) = phase("build")(run(q))
        val (_, n, noopNs, n0, n1) =
          phase("noop")(df.write.format("noop").mode("overwrite").save())
        val (rows, c, countNs, c0, c1) = phase("count")(df.count())
        tr.span("query", id, s"pass-$idx", b0, n1)
        tr.span("build", s"$id/build", id, b0, b1)
        tr.span("action", s"$id/noop", id, n0, n1)
        tr.span("action", s"$id/count", id, c0, c1)
        val covered = coveredMs(b.jobSpans, b0, b1) + coveredMs(n.jobSpans, n0, n1)
        queryTraces += Json.obj(
          "query" -> q, "pass" -> idx, "wall_ns" -> (buildNs + noopNs),
          "build_ns" -> buildNs, "noop_ns" -> noopNs, "count_ns" -> countNs, "rows" -> rows,
          "wall_ms_clock" -> ((b1 - b0) + (n1 - n0)), "job_covered_ms" -> covered,
          "cores" -> cores,
          "build" -> Json.Raw(stats(b)), "noop" -> Json.Raw(stats(n)),
          "count" -> Json.Raw(stats(c)))
        Sample(q, idx, buildNs + noopNs, cpuNs, None)
      } catch { case e: Throwable => Sample(q, idx, -1L, -1L, Some(message(e))) }
    }

    /** Wall-clock ms of [lo, hi) covered by at least one job. */
    private def coveredMs(jobs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
      var covered = 0L
      var reach = lo
      jobs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
          if (b > reach) { covered += b - math.max(a, reach); reach = b }
        }
      covered
    }

    private def stats(s: PhaseStats): String = Json.obj(
      "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "task_failures" -> s.taskFailures, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "peak_mem" -> s.peakMem, "scan_bytes" -> s.scanBytes,
      "scan_rows" -> s.scanRows, "shuffle_write" -> s.shuffleWrite,
      "shuffle_read" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
      "spill_disk" -> s.spillDisk, "block_puts" -> s.blockPuts,
      "block_bytes" -> s.blockBytes, "analysis_ms" -> s.analysisMs,
      "optimization_ms" -> s.optimizationMs, "planning_ms" -> s.planningMs,
      "compiles" -> s.compiles, "compile_ns" -> s.compileNs, "batches" -> s.batches,
      "batch_ms" -> s.batchMs, "commit_ms" -> s.commitMs, "state_rows" -> s.stateRows)
  }
}
