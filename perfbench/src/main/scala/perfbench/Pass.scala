package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State of one pass: the figures it reports and the checks it ran.
  * `tables` prefixes every table and directory the pass writes, so
  * warm-up passes never touch the measured passes' outputs.
  */
final class PassCtx(val spark: SparkSession, val tracer: Option[Tracer],
    val pass: Int, val tables: String, val corrupt: Boolean) {
  val self = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val batchMs = mutable.ArrayBuffer.empty[Double]
  val finalTags = mutable.LinkedHashSet.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0
  var failedChecks = 0
  var records = 0L
  var inputBytes = 0L
  var bytesWritten = 0L
  var constructMs = 0.0
  var wallMs = 0.0
  /** Run id of the streaming query the pass ran, if any. */
  var streamRun: Option[String] = None

  def traced: Boolean = tracer.isDefined
  def passName: String = s"pass$pass"
  /** Tags are per pass, so each pass's counts stay apart. */
  def tagOf(step: String): String = s"$passName/$step"

  def addSelf(layer: String, ms: Double): Unit =
    self(layer) = self.getOrElse(layer, 0.0) + ms
  def addCount(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Time spent inside a public engine call that returns a DataFrame
    * (construction, including any eager work it does).
    */
  def construct[T](body: => T): T = {
    val s = System.nanoTime()
    try body finally constructMs += (System.nanoTime() - s) / 1e6
  }

  /** Record one verified operation; a non-empty error list fails it. */
  def check(errors: Seq[String]): Unit = {
    checks += 1
    if (errors.nonEmpty) failedChecks += 1
    failures ++= errors
  }

  /** Run `body` as a named step: tagged and timed when traced, only
    * timed otherwise. Returns the result and its wall time in ms.
    */
  def step[T](tag: String)(body: => T): (T, Double) = tracer match {
    case Some(t) => t.tagged(spark, tagOf(tag), passName, pass)(body)
    case None =>
      val s = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - s) / 1e6)
  }
}

/** One lazily composed layer. `rows` names the count its output row
  * total is reported as in the traced run.
  */
final case class Layer(name: String, rows: Option[String], f: DataFrame => DataFrame)

object Chain {

  /** Compute every row and column of `df` without writing it: the
    * full-result action of a traced prefix. (A `count()` would let
    * Catalyst prune the work away.)
    */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Run source → layers → sink. Untraced, the layers are composed and
    * the sink is the only action. Traced, each cumulative prefix runs
    * with its own tag and a full-result action; a layer's self time is
    * its prefix's time minus the previous prefix's time. `probe` is what
    * the source-only prefix materializes: the columns the later layers
    * actually read, so column pruning matches the full pipeline.
    */
  def run(ctx: PassCtx, unit: String, source: Layer, probe: DataFrame => DataFrame,
      layers: Seq[Layer], sinkName: String, sink: DataFrame => Unit): Unit = {
    def build(n: Int): DataFrame =
      layers.take(n).foldLeft(ctx.construct(source.f(null)))((d, l) =>
        ctx.construct(l.f(d)))
    if (!ctx.traced) ctx.step(s"$unit/$sinkName")(sink(build(layers.length)))
    else {
      var prev = 0.0
      (source +: layers).zipWithIndex.foreach { case (l, k) =>
        val (rows, t) = ctx.step(s"$unit/${l.name}") {
          val df = build(k)
          materialize(if (k == 0) probe(df) else df)
        }
        l.rows.foreach(ctx.addCount(_, rows.toDouble))
        ctx.addSelf(l.name, t - prev)
        prev = t
      }
      ctx.finalTags += ctx.tagOf(s"$unit/$sinkName")
      val t = ctx.step(s"$unit/$sinkName")(sink(build(layers.length)))._2
      ctx.addSelf(sinkName, t - prev)
    }
  }
}

/** File-system helpers for measuring and clearing what a pass wrote. */
object Disk {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** Data files under `dir`: regular files whose names do not start with
    * `.` or `_` (checksums and commit markers are left out).
    */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList finally walk.close()
    }

  def bytes(dir: Path): Long = dataFiles(dir).map(Files.size).sum

  /** Directory of a managed table in the default database. */
  def table(spark: SparkSession, name: String): Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (wh.startsWith("file:")) Paths.get(new java.net.URI(wh)) else Paths.get(wh)
    root.resolve(name.toLowerCase)
  }

  def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}
