package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.Verify.jsonString

/** Per-query cost trace: where a query's time went, readable from files.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=4 \
  *   sbt "runMain graft.tools.Trace q106_ppjoin_jaccard q134_stream_stream_join"
  * }}}
  *
  * Each named query runs once to warm up and once traced, on the same
  * session Bench and Verify use. The timed action is a full-result
  * `write.format("noop")` (not `count()`, which lets Catalyst prune the
  * work), so Trace times are not comparable with `count()` timings.
  * For each query Trace writes to `tmp/trace/<query>/`:
  *  - `totals.json`: construction vs action ms, jobs/stages/tasks,
  *    executor run/CPU/GC ms, shuffle bytes, spill, and the Exchange and
  *    `lambdafunction` counts of the action's final plan;
  *  - `executions.jsonl` + `plans.txt`: one row per SQL execution with
  *    its own counts, and its executed plan with each node's
  *    `numOutputRows`, descending into AQE query stages. Every
  *    `localCheckpoint` is its own execution, so the subplans hidden
  *    behind a checkpoint's `ExistingRDD` scan show here. A stage that
  *    feeds a range exchange (`orderBy`) runs twice, once to sample the
  *    range bounds, so its nodes' row counts read double;
  *  - `batches.jsonl`: each streaming micro-batch's `durationMs`.
  *
  * Jobs are attributed to the innermost SQL execution open when they
  * start (the listener bus delivers execution and job events in posting
  * order), not by job group: AQE stage jobs do not carry the caller's
  * group. Trace therefore assumes one query runs at a time in its JVM.
  */
object Trace {

  /** Engine counts for a set of jobs. */
  final class Counts {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    }

    def fields: Seq[(String, Any)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1000000L, "gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
  }

  /** One SQL execution. `id` -1 collects jobs run outside any execution. */
  final case class Execution(id: Long, name: String, description: String,
      startMs: Long, durationMs: Long, counts: Counts, exchanges: Int,
      lambdas: Int, plan: String)

  /** One streaming micro-batch with input. */
  final case class Batch(runId: String, batchId: Long, inputRows: Long,
      durationMs: Map[String, Long])

  final case class Result(query: String, sfDir: String, constructMs: Double,
      actionMs: Double, totals: Counts, exchanges: Int, lambdas: Int,
      executions: Seq[Execution], batches: Seq[Batch])

  /** Children of a node in the plan that actually ran: the final plan
    * of an adaptive node, the plan inside a query stage, subqueries.
    */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children ++ other.subqueries
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(walk)

  private def render(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val rows = p.metrics.get("numOutputRows").map(m => s" rows=${m.value}")
    out ++= "  " * depth ++= p.simpleString(3).take(160) ++=
      rows.getOrElse("") += '\n'
    kids(p).foreach(render(_, depth + 1, out))
  }

  /** Listens for the duration of one traced run. */
  private final class Recorder extends SparkListener {
    private val open = mutable.ArrayBuffer.empty[Long]
    private val starts = mutable.HashMap.empty[Long, (String, Long)]
    private val stageOwner = mutable.HashMap.empty[Int, Long]
    private val counts = mutable.HashMap.empty[Long, Counts]
    private val ended = mutable.ArrayBuffer.empty[Execution]
    private val progress = mutable.ArrayBuffer.empty[Batch]

    private def c(id: Long): Counts = counts.getOrElseUpdate(id, new Counts)

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          open += s.executionId
          // micro-batch descriptions span lines: keep each row one line
          starts(s.executionId) =
            (s.description.trim.replaceAll("\\s*\n\\s*", " "), s.time)
        case x: SparkListenerSQLExecutionEnd =>
          open -= x.executionId
          val (desc, t0) = starts.getOrElse(x.executionId, ("", x.time))
          val (name, qe) = Bridge.endedExecution(x)
          val nodes = Option(qe).map(q => walk(q.executedPlan)).getOrElse(Nil)
          val plan = new StringBuilder
          nodes.headOption.foreach(render(_, 0, plan))
          ended += Execution(x.executionId,
            name.getOrElse("(unnamed)"), desc, t0, x.time - t0,
            c(x.executionId),
            nodes.count(_.isInstanceOf[Exchange]),
            nodes.map(_.expressions.map(_.collect {
              case l: LambdaFunction => l }.size).sum).sum,
            plan.toString)
        case _ => ()
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val owner = open.lastOption.getOrElse(-1L)
      c(owner).jobs += 1
      e.stageIds.foreach(stageOwner(_) = owner)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        c(stageOwner.getOrElse(e.stageInfo.stageId, -1L)).stages += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val x = c(stageOwner.getOrElse(e.stageId, -1L))
      x.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) Recorder.this.synchronized {
          progress += Batch(p.runId.toString, p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    }

    /** Executions in start order, plus a -1 row for jobs outside any. */
    def executions: Seq[Execution] = synchronized {
      val orphan = counts.get(-1L).filter(_.jobs > 0).map(n =>
        Execution(-1L, "(no SQL execution)", "", 0L, 0L, n, 0, 0, ""))
      ended.sortBy(e => (e.startMs, e.id)).toSeq ++ orphan
    }

    def batches: Seq[Batch] = synchronized(progress.toSeq)
  }

  /** Warm up, then trace one run of `query`. Storage the query
    * persisted (checkpoints) is released before returning.
    */
  def run(spark: SparkSession, sfDir: String, query: String): Result = {
    val fn = graft.SparkEntry.queries(query)
    val sc = spark.sparkContext
    def once(): (Double, Double, Long) = {
      val before = sc.getPersistentRDDs.keySet
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val actionStart = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, actionStart)
      } finally (sc.getPersistentRDDs -- before).values
        .foreach(_.unpersist(blocking = false))
    }
    once()
    Bridge.drainListenerBus(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    val (constructMs, actionMs, actionStart) =
      try once()
      finally {
        Bridge.drainListenerBus(sc)
        sc.removeSparkListener(rec)
        spark.streams.removeListener(rec.streams)
      }
    val execs = rec.executions
    val totals = new Counts
    execs.foreach(totals += _.counts)
    // the action's final plan: the last execution the action started
    val last = execs.filter(e => e.id >= 0 && e.startMs >= actionStart)
      .lastOption
    Result(query, sfDir, constructMs, actionMs, totals,
      last.map(_.exchanges).getOrElse(0), last.map(_.lambdas).getOrElse(0),
      execs, rec.batches)
  }

  private def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => jsonString(k) + ":" + value(v) }
      .mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => jsonString(s)
    case d: Double => String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x })
    case other => other.toString
  }

  /** Write `r` as totals.json, executions.jsonl, plans.txt and
    * batches.jsonl under `dir`.
    */
  def write(r: Result, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    def put(name: String, lines: Seq[String]): Unit =
      Files.writeString(d.resolve(name), lines.map(_ + "\n").mkString)
    put("totals.json", Seq(json(Seq("query" -> r.query, "sf_dir" -> r.sfDir,
      "construct_ms" -> r.constructMs, "action_ms" -> r.actionMs) ++
      r.totals.fields ++ Seq("exchanges" -> r.exchanges,
        "lambdas" -> r.lambdas, "executions" -> r.executions.size,
        "batches" -> r.batches.size))))
    put("executions.jsonl", r.executions.map(e => json(Seq(
      "execution" -> e.id, "name" -> e.name, "description" -> e.description,
      "start_ms" -> e.startMs, "duration_ms" -> e.durationMs) ++
      e.counts.fields ++ Seq("exchanges" -> e.exchanges,
        "lambdas" -> e.lambdas))))
    put("plans.txt", r.executions.filter(_.id >= 0).map(e =>
      s"== execution ${e.id} ${e.name} (${e.durationMs} ms): " +
        s"${e.description}\n${e.plan}"))
    put("batches.jsonl", r.batches.map(b => json(Seq("run_id" -> b.runId,
      "batch" -> b.batchId, "input_rows" -> b.inputRows,
      "duration_ms" -> b.durationMs))))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "")
    if (args.isEmpty || sfDir.isEmpty) {
      System.err.println("usage: SPARK_GRAFT_SF_DIR=<sf dir> " +
        "[SPARK_GRAFT_CPUS=<n>] graft.tools.Trace <query> [<query> ...]")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.SparkEntry.session(cpus)
    try args.foreach { name =>
      val r = run(spark, sfDir, name)
      write(r, s"tmp/trace/$name")
      println(f"[trace] $name%-34s construct ${r.constructMs}%9.1f ms  " +
        f"action ${r.actionMs}%9.1f ms  jobs ${r.totals.jobs}%5d  " +
        s"executions ${r.executions.size}  batches ${r.batches.size}  " +
        s"-> tmp/trace/$name/")
    } finally spark.stop()
  }
}
