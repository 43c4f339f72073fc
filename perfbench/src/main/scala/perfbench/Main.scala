package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A benchmark workload. `generate` builds seeded inputs and their
  * ground truth outside any timed region; `pass` runs the pipeline once
  * on them and verifies what it wrote.
  */
trait Workload {
  type Data
  def generate(spark: SparkSession, seed: Long, size: Double, dir: Path): Data
  def pass(ctx: PassCtx, data: Data): Unit
  def close(): Unit = ()
}

object Workload {
  val names: Seq[String] = Seq("qbo_full_refresh", "llm_dedup", "cdc_microbatch")

  def apply(name: String): Workload = name match {
    case "qbo_full_refresh" => new QboFullRefresh(Main.cores)
    case "llm_dedup" => new LlmDedup
    case "cdc_microbatch" => new CdcMicrobatch
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 8,
    trace: Boolean = false, work: String = "", detail: String = "")

object Opts {
  def parse(args: Array[String]): Opts = {
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--work", v)) => o.copy(work = v)
      case (o, Array("--detail", v)) => o.copy(detail = v)
      case (_, a) => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }
  }
}

/** Metric names, units and what each is, in report order. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "records_per_s" -> "1/s",
    "batch_p50_ms" -> "ms", "batch_p90_ms" -> "ms", "peak_rss_mb" -> "MB",
    "bytes_written_per_input_byte" -> "ratio")

  /** Layers whose self time the traced run reports, per pass. */
  val layers: Seq[String] = Seq(
    "sources.scan", "qbo.stage", "qbo.warehouse", "qbo.reports_fetch",
    "qbo.reports_flatten", "load.full_refresh", "load.append_month",
    "input.read", "text.quality", "dedup.exact", "dedup.shingles",
    "dedup.candidates", "dedup.verify", "dedup.clusters", "load.keep_write",
    "load.scd2_merge", "streaming.ledger_commit", "queries.read_after_write",
    "streaming.batch_overhead", "streaming.start")

  val layerCounts: Seq[(String, String)] = Seq(
    "sources.http_requests" -> "count", "sources.useful_fetch_ratio" -> "ratio",
    "sources.rows_out" -> "count", "qbo.rows_out" -> "count",
    "load.bytes_written" -> "bytes", "load.files_written" -> "count",
    "load.scd2_rows_rewritten" -> "count", "streaming.ledger_bytes_written" -> "bytes",
    "text.docs_kept" -> "count", "dedup.exact.groups" -> "count",
    "dedup.candidates.pairs" -> "count", "dedup.verify.pairs" -> "count",
    "dedup.verify.useful_ratio" -> "ratio", "dedup.clusters.jobs" -> "count",
    "dedup.clusters.count" -> "count", "dedup.near_dup_recall" -> "ratio")

  val streaming: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "triggerExecution", "streaming.add_batch_ms" -> "addBatch",
    "streaming.wal_commit_ms" -> "walCommit", "streaming.get_batch_ms" -> "getBatch",
    "streaming.query_planning_ms" -> "queryPlanning")

  val engine: Seq[(String, String)] = Seq(
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_bytes" -> "bytes",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.scheduler_delay_ms" -> "ms", "spark.task_failures" -> "count",
    "spark.jobs_per_batch" -> "count", "spark.tasks_per_batch" -> "count",
    "spark.planning_ms" -> "ms", "driver.construct_ms" -> "ms")

  val overhead: Seq[(String, String)] = Seq(
    "trace.self_sum_ms" -> "ms", "trace.untraced_wall_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio")

  def perLayer: Seq[(String, String)] =
    layers.map(l => s"$l.self_ms" -> "ms") ++ layerCounts ++
      streaming.map { case (n, _) => n -> "ms" } ++ engine ++ overhead

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** End-to-end values from the untraced passes, with sample counts. */
  def endToEndValues(setupS: Double, untraced: Seq[PassCtx],
      rss: Double): (Map[String, Double], Map[String, Int]) = {
    val walls = untraced.map(_.wallMs / 1e3)
    val batches = untraced.flatMap(_.batchMs)
    (Map(
      "setup_s" -> setupS,
      "wall_s" -> median(walls),
      "records_per_s" -> median(untraced.map(c => c.records / (c.wallMs / 1e3))),
      "batch_p50_ms" -> quantile(batches, 0.5),
      "batch_p90_ms" -> quantile(batches, 0.9),
      "peak_rss_mb" -> rss,
      "bytes_written_per_input_byte" ->
        median(untraced.map(c => c.bytesWritten.toDouble / c.inputBytes))),
      Map("setup_s" -> 1, "wall_s" -> walls.size,
        "records_per_s" -> walls.size, "batch_p50_ms" -> batches.size,
        "batch_p90_ms" -> batches.size, "peak_rss_mb" -> 1,
        "bytes_written_per_input_byte" -> walls.size))
  }

  /** Per-layer values: medians over traced passes (a count only some
    * passes record, such as HTTP requests on untraced passes, over those;
    * micro-batch durations over the untraced passes' batches).
    */
  def layerValues(t: Tracer, traced: Seq[PassCtx], untraced: Seq[PassCtx]): Map[String, Double] = {
    def med(f: PassCtx => Double): Double = median(traced.map(f))
    val selfs = layers.map(l => s"$l.self_ms" -> med(_.self.getOrElse(l, 0.0)))
    val counts = layerCounts.map { case (k, _) =>
      val from = Seq(traced, untraced).map(_.flatMap(_.counts.get(k))).find(_.nonEmpty)
      k -> from.map(median).getOrElse(0.0)
    }
    val prog = t.batches(untraced.flatMap(_.streamRun))
    val stream = streaming.map { case (k, key) =>
      k -> median(prog.flatMap(_.get(key)).map(_.toDouble))
    }
    def eng(c: PassCtx): Counters = {
      val sum = new Counters
      c.finalTags.foreach(tag => sum += t.counts(tag))
      sum
    }
    def batchesOf(c: PassCtx): Double = math.max(1, c.batchMs.size).toDouble
    val engine = Seq[(String, Counters => Double)](
      "spark.shuffle_write_bytes" -> (_.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> (_.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> (_.spillBytes.toDouble),
      "spark.peak_exec_mem_bytes" -> (_.peakExecMemBytes.toDouble),
      "spark.executor_run_ms" -> (_.runMs), "spark.executor_cpu_ms" -> (_.cpuMs),
      "spark.gc_ms" -> (_.gcMs), "spark.jobs" -> (_.jobs.toDouble),
      "spark.stages" -> (_.stages.toDouble), "spark.tasks" -> (_.tasks.toDouble),
      "spark.scheduler_delay_ms" -> (_.schedulerDelayMs),
      "spark.task_failures" -> (_.taskFailures.toDouble),
      "spark.planning_ms" -> (_.planningMs))
      .map { case (k, f) => k -> med(c => f(eng(c))) } ++ Seq(
      "spark.jobs_per_batch" -> med(c => eng(c).jobs / batchesOf(c)),
      "spark.tasks_per_batch" -> med(c => eng(c).tasks / batchesOf(c)),
      "driver.construct_ms" -> median(untraced.map(_.constructMs)))
    val selfSum = med(_.self.values.sum)
    val wallMs = median(untraced.map(_.wallMs))
    (selfs ++ counts ++ stream ++ engine ++ Seq(
      "trace.self_sum_ms" -> selfSum, "trace.untraced_wall_ms" -> wallMs,
      "trace.overhead_ratio" -> (if (wallMs > 0) selfSum / wallMs - 1 else 0.0))).toMap
  }

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Main {

  /** Spark runs `local[cores]`, as many as the JVM may use. */
  val cores: Int = Runtime.getRuntime.availableProcessors
  /** Warm-up input size relative to the measured input. */
  val WarmSize = 0.1

  def session(work: Path, app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$app")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Run one pass; an exception fails it (and ends the loop). */
  def run(ctx: PassCtx)(body: => Unit): Boolean =
    try { body; true } catch {
      case e: Exception =>
        ctx.check(Seq(s"pass ${ctx.pass} failed: $e"))
        e.printStackTrace()
        false
    }

  def main(args: Array[String]): Unit = {
    val uptimeMs = ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val entered = System.nanoTime()
    val o = Opts.parse(args)
    val work = Paths.get(o.work).toAbsolutePath
    Files.createDirectories(work)
    val wl = Workload(o.workload)
    val tracer = if (o.trace) Some(new Tracer(entered)) else None
    val all = mutable.ArrayBuffer.empty[PassCtx]
    val log = System.err

    // set-up, timed from JVM start: a session with the engine's
    // extensions, then one warm-up pass (checked) on a small input whose
    // generation is left out
    val spark = session(work, o.workload)
    val g = System.nanoTime()
    val warm = wl.generate(spark, o.seed ^ 0x5eedL, WarmSize, work.resolve("warm-input"))
    val warmGenNs = System.nanoTime() - g
    val warmCtx = new PassCtx(spark, None, -1, "w_", corrupt = false)
    run(warmCtx)(wl.pass(warmCtx, warm))
    all += warmCtx
    val setupS = uptimeMs / 1e3 + (System.nanoTime() - entered - warmGenNs) / 1e9
    log.println(f"[perfbench] set-up: $setupS%.3f s")

    val g0 = System.nanoTime()
    val data = wl.generate(spark, o.seed, 1.0, work.resolve("input"))
    val genS = (System.nanoTime() - g0) / 1e9
    log.println(f"[perfbench] generated inputs in $genS%.2f s")

    // one untimed pass on the measured input, so the first timed pass
    // does not pay for compiling and caching what only this size reaches
    val first = new PassCtx(spark, None, -100, "m_", corrupt = false)
    val firstOk = run(first)(wl.pass(first, data))
    all += first
    log.println(f"[perfbench] untimed first pass: ${first.wallMs / 1e3}%.3f s")

    // closed loop: one client, next pass after the previous one ends;
    // a traced run alternates untraced and traced passes, starting and
    // ending untraced so the traced pass is compared with passes on both
    // sides of it. A pass starts only if the last one's length still fits
    // in --seconds, once the minimum (two untraced passes, plus one traced
    // pass in a traced run) has run.
    val untraced = mutable.ArrayBuffer.empty[PassCtx]
    val traced = mutable.ArrayBuffer.empty[PassCtx]
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    var n = 0
    var lastS = 0.0
    def minimum: Boolean = untraced.size >= 2 && (tracer.isEmpty || traced.nonEmpty)
    def enough: Boolean = minimum && elapsed + lastS > o.seconds
    var deadline = if (firstOk) 3 * o.seconds + 60 else 0
    tracer.foreach(_.watchStreams(spark))
    while (!enough && elapsed < deadline) {
      val s0 = elapsed
      val useTrace = tracer.isDefined && n % 2 == 1
      if (useTrace) tracer.get.attach(spark)
      val ctx = new PassCtx(spark, if (useTrace) tracer else None, n, "m_", corrupt = false)
      val s = System.nanoTime()
      val ok = run(ctx)(wl.pass(ctx, data))
      if (useTrace) {
        tracer.get.detach(spark)
        tracer.get.span(ctx.passName, "", n, s, System.nanoTime())
      }
      (if (useTrace) traced else untraced) += ctx
      all += ctx
      log.println(f"[perfbench] pass $n${if (useTrace) " (traced)" else ""}: " +
        f"${ctx.wallMs / 1e3}%.3f s, ${ctx.checks} checks, ${ctx.failures.size} failures")
      ctx.failures.take(5).foreach(f => log.println(s"[perfbench]   $f"))
      n += 1
      lastS = elapsed - s0
      if (!ok) deadline = 0
    }
    tracer.foreach(_.unwatchStreams(spark))
    val rss = peakRssMb()
    wl.close()
    stop(spark)

    val (e2e, samples) = Metrics.endToEndValues(setupS, untraced.toSeq, rss)
    val layerValues = tracer.map(Metrics.layerValues(_, traced.toSeq, untraced.toSeq))
      .getOrElse(Map.empty)
    import Metrics._

    val attempted = all.map(_.checks).sum
    val failed = all.map(_.failedChecks).sum
    val metrics: Seq[(String, String)] = if (o.trace) perLayer else endToEnd
    val values = if (o.trace) layerValues else e2e
    val result = Json.obj(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(metrics.map { case (k, u) =>
        Json.quote(k) + ":" + Json.obj("value" -> values.getOrElse(k, 0.0), "unit" -> u).text
      }.mkString("{", ",", "}")))

    if (o.detail.nonEmpty) {
      val detail = Json.obj(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "cores" -> cores, "generate_s" -> genS,
        "end_to_end" -> Json.Raw(endToEnd.map { case (k, u) =>
          Json.quote(k) + ":" + Json.obj("value" -> e2e(k), "unit" -> u,
            "samples" -> samples(k)).text
        }.mkString("{", ",", "}")),
        "failed_ratio" -> (if (attempted > 0) failed.toDouble / attempted else 1.0),
        "per_layer" -> layerValues.toSeq.sortBy(_._1)
          .map { case (k, v) => Json.obj("name" -> k, "value" -> v,
            "unit" -> perLayer.toMap.getOrElse(k, ""),
            "samples" -> (if (k.startsWith("streaming.") && k.endsWith("_ms") &&
              !k.endsWith(".self_ms"))
              tracer.map(_.batches(untraced.toSeq.flatMap(_.streamRun)).size).getOrElse(0)
              else traced.size)) },
        "passes" -> all.map(c => Json.obj("pass" -> c.pass, "traced" -> c.traced,
          "wall_ms" -> c.wallMs, "records" -> c.records, "input_bytes" -> c.inputBytes,
          "bytes_written" -> c.bytesWritten, "batches" -> c.batchMs.size,
          "checks" -> c.checks, "failures" -> c.failures.take(20).toSeq,
          "self_ms" -> c.self, "counts" -> c.counts)).toSeq,
        "spans" -> tracer.map(_.spans.toSeq.map(s => Json.obj("name" -> s.name,
          "parent" -> s.parent, "pass" -> s.pass, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs))).getOrElse(Seq.empty),
        "listener_counts" -> tracer.map(_.allCounts.map { case (tag, c) => Json.obj(
          "tag" -> tag, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_failures" -> c.taskFailures, "executor_run_ms" -> c.runMs,
          "executor_cpu_ms" -> c.cpuMs, "gc_ms" -> c.gcMs,
          "scheduler_delay_ms" -> c.schedulerDelayMs, "planning_ms" -> c.planningMs,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
          "peak_exec_mem_bytes" -> c.peakExecMemBytes) }).getOrElse(Seq.empty))
      Files.write(Paths.get(o.detail), detail.text.getBytes("UTF-8"))
    }
    println(result.text)
    System.exit(if (failed == 0) 0 else 1)
  }
}
