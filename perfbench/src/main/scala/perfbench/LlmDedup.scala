package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextFunctions

/** `llm_dedup`: near-duplicate removal over a seeded Zipf-vocabulary
  * corpus. Quality signals from `TextFunctions` drop short and
  * symbol-soup documents, `Dedup.exactGroups` drops exact copies, MinHash
  * LSH proposes candidate pairs, shingle Jaccard verifies them,
  * `Dedup.dupClusters` joins them into clusters, and the keep-set (one
  * document per cluster) is written as Parquet.
  *
  * Planted truth: bases, each with one exact copy and one one-word edit
  * (shingle Jaccard ≥ 0.85 at 40 words); background documents near no
  * other; low-quality documents the filter must drop.
  */
final class LlmDedup extends Workload {

  final class Data(val path: String, val docs: Int, val inputBytes: Long,
      val texts: Array[String], val background: Array[Int], val groups: Array[(Int, Int, Int)])

  val MinTokens = 30
  val MaxAvgWordLen = 10.0
  val MinStopwordRatio = 0.05
  val Threshold = 0.8
  val RecallFloor = 0.95
  private val stops = TextFunctions.LangStopwords.toMap.apply("en")
  val keepSpec: CheckSpec = CheckSpec(Seq("doc_id", "text"), sum = Some("doc_id"))

  override def generate(spark: SparkSession, seed: Long, size: Double, dir: Path): Data = {
    val d = new Draw(seed)
    val n = math.max(200, (8000 * size).toInt)
    // vocabulary: the English stopwords lead, then seeded pseudo-words;
    // ranks are drawn with Zipf(s = 1) frequencies
    val vocab = {
      val seen = mutable.LinkedHashSet[String](stops: _*)
      while (seen.size < 30000) {
        val len = 3 + d.int(7)
        seen += (0 until len).map(_ => ('a' + d.int(26)).toChar).mkString
      }
      seen.toArray
    }
    val cdf = {
      val w = (1 to vocab.length).map(r => 1.0 / r)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, d.r.nextDouble())
      vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
    }
    def passes(ws: Array[String]): Boolean =
      ws.length >= MinTokens && ws.map(_.length).sum.toDouble / ws.length <= MaxAvgWordLen &&
        ws.count(stops.contains).toDouble / ws.length >= MinStopwordRatio
    val seen = mutable.HashSet.empty[String]
    def fresh(make: () => Array[String], ok: Array[String] => Boolean): Array[String] = {
      var ws = make()
      while (!ok(ws) || seen.contains(ws.mkString(" "))) ws = make()
      seen += ws.mkString(" ")
      ws
    }
    def normal(): Array[String] =
      fresh(() => Array.fill(40 + d.int(81))(word()), passes)

    val nGroups = n / 10
    val nLow = n / 20
    val nBackground = n - 3 * nGroups - nLow
    // kinds in generation order; ids are a seeded permutation, so a base
    // is not always the smallest id of its group
    val texts = mutable.ArrayBuffer.empty[String]
    val groupSlots = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    val bg = mutable.ArrayBuffer.empty[Int]
    for (_ <- 0 until nGroups) {
      val base = normal()
      val edit = fresh(() => {
        val e = base.clone()
        e(d.int(e.length)) = vocab(100 + d.int(vocab.length - 100))
        e
      }, ws => passes(ws) && !(ws sameElements base))
      val b = texts.size
      texts += base.mkString(" ") += base.mkString(" ") += edit.mkString(" ")
      groupSlots += ((b, b + 1, b + 2))
    }
    for (i <- 0 until nLow) {
      texts += (if (i % 2 == 0) fresh(() => Array.fill(8 + d.int(18))(word()), !passes(_))
        else fresh(() => Array.fill(40 + d.int(40))(
          (0 until 13 + d.int(8)).map(_ => ('a' + d.int(26)).toChar).mkString), !passes(_)))
        .mkString(" ")
    }
    for (_ <- 0 until nBackground) { bg += texts.size; texts += normal().mkString(" ") }

    val ids = (1 to texts.size).toArray
    for (i <- ids.indices.reverse) {
      val j = d.int(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val byId = new Array[String](texts.size + 1)
    texts.indices.foreach(i => byId(ids(i)) = texts(i))
    val path = dir.resolve("corpus").toString
    import spark.implicits._
    texts.indices.map(i => (ids(i).toLong, texts(i))).toDF("doc_id", "text")
      .repartition(4).write.mode("overwrite").parquet(path)
    new Data(path, texts.size, Disk.bytes(dir.resolve("corpus")), byId,
      bg.map(ids).toArray,
      groupSlots.map { case (b, c, e) => (ids(b), ids(c), ids(e)) }.toArray)
  }

  override def pass(ctx: PassCtx, data: Data): Unit = {
    val spark = ctx.spark
    val out = java.nio.file.Paths.get(data.path).resolveSibling(ctx.tables + "keep").toString
    // layers share the frames later layers read besides their input
    var unique: DataFrame = null
    var shingles: DataFrame = null
    var clusters: DataFrame = null
    val s0 = System.nanoTime()
    Chain.run(ctx, "dedup",
      Layer("input.read", None, _ => spark.read.parquet(data.path)), identity,
      Seq(
        Layer("text.quality", Some("text.docs_kept"), df => {
          val ws = TextFunctions.words(col("text"))
          df.filter(TextFunctions.tokenCount(col("text")) >= MinTokens &&
            TextFunctions.avgWordLen(ws) <= MaxAvgWordLen &&
            TextFunctions.stopwordRatio(ws, stops) >= MinStopwordRatio)
        }),
        Layer("dedup.exact", Some("dedup.exact.groups"), df => {
          unique = df.join(Dedup.exactGroups(df, "doc_id", "text")
            .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
          unique
        }),
        Layer("dedup.shingles", None, df => {
          shingles = Dedup.shingleFrame(df, "doc_id", "text")
          shingles
        }),
        Layer("dedup.candidates", Some("dedup.candidates.pairs"),
          Dedup.lshCandidatePairsFromShingles(_)),
        Layer("dedup.verify", Some("dedup.verify.pairs"), cand => cand
          .join(shingles.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
          .join(shingles.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
          .filter(Dedup.jaccard(col("a_sh"), col("b_sh")) >= Threshold)
          .select("a_id", "b_id")),
        Layer("dedup.clusters", None, pairs => {
          clusters = Dedup.dupClusters(pairs)
          clusters
        })),
      "load.keep_write", c => unique
        .join(c.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(out))
    ctx.wallMs = (System.nanoTime() - s0) / 1e6
    ctx.batchMs += ctx.wallMs
    ctx.records = data.docs
    ctx.inputBytes = data.inputBytes
    for (t <- ctx.tracer) {
      ctx.addCount("dedup.clusters.jobs",
        (t.counts(ctx.tagOf("dedup/dedup.clusters")).jobs -
          t.counts(ctx.tagOf("dedup/dedup.verify")).jobs).toDouble)
      ctx.addCount("dedup.verify.useful_ratio", ctx.counts.getOrElse("dedup.verify.pairs", 0.0) /
        math.max(1.0, ctx.counts.getOrElse("dedup.candidates.pairs", 0.0)))
    }

    if (ctx.corrupt)
      spark.read.parquet(out).limit(1).write.mode("append").parquet(out)
    verify(ctx, data, out, clusters)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    ctx.bytesWritten = Disk.bytes(java.nio.file.Paths.get(out))
    ctx.addCount("load.bytes_written", ctx.bytesWritten.toDouble)
    ctx.addCount("load.files_written", Disk.dataFiles(java.nio.file.Paths.get(out)).size.toDouble)
  }

  /** The keep-set must hold every background document, no low-quality
    * document, one document per exact-copy pair, and per planted group
    * either one document (edit clustered with its base) or two. Clusters
    * may only join members of one planted group, and at least
    * [[RecallFloor]] of planted edits must be clustered with their base.
    */
  private def verify(ctx: PassCtx, data: Data, out: String, clusters: DataFrame): Unit = {
    val errors = mutable.ArrayBuffer.empty[String]
    val label = clusters.collect().map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    val groupOf = mutable.HashMap.empty[Int, Int]
    data.groups.zipWithIndex.foreach { case ((b, c, e), g) => Seq(b, c, e).foreach(groupOf(_) = g) }
    label.groupBy(_._2).foreach { case (cid, members) =>
      val gs = members.keys.map(groupOf.get).toSet
      if (gs.size != 1 || gs.head.isEmpty)
        errors += s"cluster $cid joins documents of different planted groups: " +
          members.keys.take(5).mkString(", ")
    }
    val expected = keepSpec.expect()
    def keep(id: Int): Unit = expected.add(Seq(Some(id.toString), Some(data.texts(id))), id * 100L)
    data.background.foreach(keep)
    var recovered = 0
    data.groups.foreach { case (b, c, e) =>
      val rep = math.min(b, c)
      if (label.contains(rep) && label.get(rep) == label.get(e)) {
        recovered += 1
        keep(math.min(rep, e))
      } else { keep(rep); keep(e) }
    }
    val recall = recovered.toDouble / math.max(1, data.groups.length)
    if (recall < RecallFloor) errors += f"near-duplicate recall $recall%.4f below $RecallFloor"
    errors ++= expected.truth.diff(keepSpec.measure(ctx.spark.read.parquet(out)), "keep-set")
    ctx.check(errors.toSeq)
    ctx.addCount("dedup.near_dup_recall", recall)
    ctx.addCount("dedup.clusters.count", label.values.toSet.size.toDouble)
  }
}
