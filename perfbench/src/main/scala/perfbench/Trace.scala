package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counts for the jobs run under one tag. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuMs, gcMs, schedulerDelayMs, planningMs = 0.0
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, peakExecMemBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runMs += o.runMs; cpuMs += o.cpuMs
    gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
    planningMs += o.planningMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** One traced interval: a pass, a prefix run, or a step inside one. */
final case class Span(name: String, parent: String, pass: Int,
    startMs: Double, endMs: Double)

/** Listener-based tracing. Every action the traced run issues carries a
  * tag in the local property [[Tracer.TagKey]]; a SparkListener
  * attributes jobs, stages and task metrics to the tag of the job that
  * ran them, a QueryExecutionListener adds Catalyst's analysis,
  * optimization and planning time to the tag current when the query
  * ran, and a StreamingQueryListener keeps every micro-batch's
  * `durationMs` by the run id of its query. The first two listen only
  * while a traced pass runs; the streaming one listens to every pass of
  * a traced run, so micro-batches of untraced passes are what it reports.
  * Spans are kept in memory and written once at the end.
  */
final class Tracer(t0: Long) {
  import Tracer._

  private val counters = mutable.HashMap.empty[String, Counters]
  private val stageTag = mutable.HashMap.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val progress = mutable.HashMap.empty[String, mutable.ArrayBuffer[Map[String, Long]]]
  @volatile private var currentTag = "untagged"

  def ms(nanos: Long): Double = (nanos - t0) / 1e6

  private def c(tag: String): Counters = counters.getOrElseUpdate(tag, new Counters)

  def counts(tag: String): Counters = synchronized {
    val out = new Counters
    counters.get(tag).foreach(out += _)
    out
  }

  /** Every tag's counts, for the run's detail file. */
  def allCounts: Seq[(String, Counters)] = synchronized {
    counters.keys.toSeq.sorted.map(t => t -> counts(t))
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      c(tag).jobs += 1
      e.stageIds.foreach(id => stageTag(id) = tag)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        c(stageTag.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val x = c(stageTag.getOrElse(e.stageId, "untagged"))
      x.tasks += 1
      if (e.reason != Success) x.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        x.runMs += m.executorRunTime
        x.cpuMs += m.executorCpuTime / 1e6
        x.gcMs += m.jvmGCTime
        x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        x.peakExecMemBytes = math.max(x.peakExecMemBytes, m.peakExecutionMemory)
        val info = e.taskInfo
        if (info != null && info.finished) {
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + info.gettingResultTime
          x.schedulerDelayMs += math.max(0L, info.duration - busy)
        }
      }
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      Tracer.this.synchronized { c(currentTag).planningMs += planMs }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) Tracer.this.synchronized {
        progress.getOrElseUpdate(e.progress.runId.toString, mutable.ArrayBuffer.empty) +=
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
  }

  /** `durationMs` of each micro-batch, with input, of the given query runs. */
  def batches(runs: Seq[String]): Seq[Map[String, Long]] = synchronized {
    runs.flatMap(r => progress.get(r).toSeq.flatten)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  def watchStreams(spark: SparkSession): Unit = spark.streams.addListener(streams)

  def unwatchStreams(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streams)
  }

  /** Run `body` with every job it starts tagged `tag`; returns its
    * result and its wall time in ms. The listener bus is drained before
    * returning, so the tag's counts are complete.
    */
  def tagged[T](spark: SparkSession, tag: String, parent: String, pass: Int)(
      body: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    currentTag = tag
    val s = System.nanoTime()
    val out = try body finally sc.setLocalProperty(TagKey, prev)
    val e = System.nanoTime()
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { spans += Span(tag, parent, pass, ms(s), ms(e)) }
    (out, (e - s) / 1e6)
  }

  def span(name: String, parent: String, pass: Int, s: Long, e: Long): Unit =
    synchronized { spans += Span(name, parent, pass, ms(s), ms(e)) }
}

object Tracer {
  val TagKey = "perfbench.tag"
}
