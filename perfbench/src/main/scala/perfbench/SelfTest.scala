package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Self-test of the benchmark on tiny inputs, all workloads in one JVM:
  * an untraced and a traced pass must pass every check and emit every
  * named metric (end-to-end values above 0), each workload must record
  * the per-layer metrics of its own layers (non-zero), and a pass whose
  * output is deliberately corrupted must fail its check.
  *
  * Arguments: work directory, end-to-end metric names and per-layer
  * metric names (each comma-separated).
  */
object SelfTest {

  /** Per-layer metrics each workload records, so none may read 0 there. */
  val recorded: Map[String, Seq[String]] = {
    val engine = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
      "spark.executor_cpu_ms", "spark.planning_ms", "spark.jobs_per_batch",
      "spark.tasks_per_batch", "driver.construct_ms", "trace.self_sum_ms",
      "trace.untraced_wall_ms")
    def self(ls: String*): Seq[String] = ls.map(_ + ".self_ms")
    Map(
      "qbo_full_refresh" -> (self("sources.scan", "qbo.stage", "qbo.warehouse",
        "qbo.reports_fetch", "qbo.reports_flatten", "load.full_refresh",
        "load.append_month") ++ Seq("sources.http_requests", "sources.useful_fetch_ratio",
        "sources.rows_out", "qbo.rows_out", "load.bytes_written", "load.files_written")),
      "llm_dedup" -> (self("input.read", "text.quality", "dedup.exact", "dedup.shingles",
        "dedup.candidates", "dedup.verify", "dedup.clusters", "load.keep_write") ++ Seq(
        "text.docs_kept", "dedup.exact.groups", "dedup.candidates.pairs",
        "dedup.verify.pairs", "dedup.verify.useful_ratio", "dedup.clusters.jobs",
        "dedup.clusters.count", "dedup.near_dup_recall", "load.bytes_written",
        "load.files_written", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.peak_exec_mem_bytes")),
      "cdc_microbatch" -> (self("qbo.stage", "qbo.warehouse", "load.scd2_merge",
        "streaming.ledger_commit", "queries.read_after_write", "streaming.batch_overhead",
        "streaming.start") ++ Seq("qbo.rows_out", "load.scd2_rows_rewritten",
        "streaming.ledger_bytes_written", "streaming.trigger_ms", "streaming.add_batch_ms")))
      .map { case (w, ms) => w -> (ms ++ engine) }
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)
    val e2eNames = args(1).split(",").toSeq
    val layerNames = args(2).split(",").toSeq
    val spark = Main.session(work, "selftest")
    val problems = mutable.ArrayBuffer.empty[String]
    for (name <- Workload.names) {
      val t0 = System.nanoTime()
      val wl = Workload(name)
      val data = wl.generate(spark, 7L, 0.02, work.resolve(name))
      val tracer = new Tracer(System.nanoTime())
      tracer.watchStreams(spark)
      val plain = new PassCtx(spark, None, 0, s"${name}_plain_", corrupt = false)
      Main.run(plain)(wl.pass(plain, data))
      tracer.attach(spark)
      val traced = new PassCtx(spark, Some(tracer), 1, s"${name}_traced_", corrupt = false)
      Main.run(traced)(wl.pass(traced, data))
      tracer.detach(spark)
      tracer.unwatchStreams(spark)
      val bad = new PassCtx(spark, None, 2, s"${name}_corrupt_", corrupt = true)
      Main.run(bad)(wl.pass(bad, data))
      wl.close()

      for (c <- Seq(plain, traced)) {
        if (c.checks == 0) problems += s"$name pass ${c.pass}: no checks ran"
        c.failures.foreach(f => problems += s"$name pass ${c.pass}: $f")
      }
      if (bad.failedChecks == 0) problems += s"$name: the corrupted output passed its check"
      val (e2e, _) = Metrics.endToEndValues(1.0, Seq(plain), Main.peakRssMb())
      val layers = Metrics.layerValues(tracer, Seq(traced), Seq(plain))
      e2eNames.filterNot(n => e2e.get(n).exists(_ > 0))
        .foreach(n => problems += s"$name: end-to-end metric $n missing or 0")
      layerNames.filterNot(layers.contains)
        .foreach(n => problems += s"$name: per-layer metric $n missing")
      recorded(name).filterNot(n => layers.get(n).exists(_ != 0))
        .foreach(n => problems += s"$name: per-layer metric $n not recorded (reads 0)")
      if (name == "cdc_microbatch" && tracer.batches(plain.streamRun.toSeq).isEmpty)
        problems += s"$name: no micro-batch progress from the untraced pass"
      System.err.println(f"[perfbench] self-test $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    Main.stop(spark)
    problems.foreach(p => System.err.println(s"[perfbench] FAIL $p"))
    println(if (problems.isEmpty) "self-test passed"
      else s"self-test failed: ${problems.size} problems")
    System.exit(if (problems.isEmpty) 0 else 1)
  }
}
