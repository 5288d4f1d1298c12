package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start the session, set the workload up
  * several times, warm it up, time a fixed amount of work, check the
  * results, and write everything measured to `--out` as JSON.
  *
  * A timed phase is exactly one step of the workload (one batch pass, or
  * one cycle of store blocks), whatever its duration, so two builds of the
  * program are always compared on the same work. With `--trace 1` an
  * untraced step and then a traced one run, so the per-layer numbers and
  * the tracing overhead come from the same run.
  */
object Main {
  /** set-up runs this many times, each into a fresh directory; setup_s
    * takes the median, and the last one's state is what the run uses
    */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val (inputs, work, out) = (opt("inputs"), opt("work"), opt("out"))
    val traced = opt("trace") == "1"
    val spawnMs = opt("spawn-ms").toLong
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - spawnMs) / 1000.0

    val cache = new CacheListener
    spark.sparkContext.addSparkListener(cache)
    val tracer = new Tracer(spark, cache)
    val run = new Run(spark, tracer, inputs, work)
    val wl = Workloads(workload, run)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val loadS = timed(wl.load())
    val setupS = (1 to SetupReps).map(i => timed(wl.setup(s"$work/setup$i")))
    run.phase = "warmup"
    val warmupS = timed((1 to wl.warmSteps(traced)).foreach(_ => wl.step(run, keep = false)))

    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def measure(phase: String): Unit = {
      run.phase = phase
      phases(phase) = timed(wl.step(run, keep = phases.isEmpty))
    }
    Tracer.drain(spark.sparkContext)
    cache.resetPeak()
    if (traced) {
      measure("untraced")
      tracer.enable()
      measure("traced")
    } else measure("measure")
    Tracer.drain(spark.sparkContext)
    val cachePeak = cache.peak

    def guarded(name: String)(body: => Unit): Unit =
      try body
      catch { case e: Exception => run.check(name, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    run.phase = "verify"
    val verifyS = timed(guarded("verify")(wl.verify(run)))

    run.phase = "finish"
    val finishS = timed(guarded("finish")(wl.finish(run)))

    val runId = spark.sparkContext.applicationId
    val doc = Map(
      "workload" -> workload,
      "cores" -> cores,
      "session_s" -> sessionS,
      "load_s" -> loadS,
      "setup_reps_s" -> setupS,
      "warmup_s" -> warmupS,
      "verify_s" -> verifyS,
      "finish_s" -> finishS,
      "records_per_step" -> wl.recordsPerStep,
      "cache_peak_bytes" -> cachePeak,
      "phases" -> phases,
      "ops" -> run.ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "phase" -> o.phase,
        "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error, "results" -> o.results)),
      "checks" -> run.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extra" -> run.extra,
      "trace" -> Map(
        "spans" -> tracer.spans.map(s => Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)),
        "jobs" -> tracer.jobs.map(j => Map("id" -> j.jobId, "span" -> j.span,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
        "stats" -> tracer.stats.map { case (id, s) => id.toString -> Map(
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "task_cpu_ns" -> s.taskCpuNs, "queue_ms" -> s.queueMs, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_write_records" -> s.shuffleWriteRecords,
          "spill_bytes" -> s.spillBytes, "input_records" -> s.inputRecords,
          "scan_bytes" -> s.scanBytes, "write_bytes" -> s.writeBytes,
          "files_written" -> s.filesWritten, "cache_peak_bytes" -> s.cachePeakBytes)
        }))
    val tmp = new java.io.File(out + ".tmp")
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(tmp, doc)
    tmp.renameTo(new java.io.File(out))
    spark.stop()
  }
}
