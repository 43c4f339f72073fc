package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.load.Warehouse
import graft.qbo.{Entities, Schemas}
import graft.streaming.LedgerStore

/** `cdc_microbatch`: Bill upserts arrive one change file at a time. A
  * file stream source (`maxFilesPerTrigger = 1`) feeds `foreachBatch`,
  * which stages and casts the rows with `Entities.Bills`, merges them
  * into an SCD2 dimension with `Warehouse.mergeScd2`, commits the
  * dimension through `LedgerStore`, and reads the current slice back
  * (a read-after-write aggregate). The next file lands only after the
  * previous batch's aggregate is back: one client, closed loop.
  */
final class CdcMicrobatch extends Workload {

  /** Per-batch truth: ledger rows, current rows, current balance cents. */
  final case class After(rows: Long, current: Long, cents: Long)

  final class Data(val dim0: String, val files: Array[Array[Byte]], val after: Array[After],
      val last: Truth, val changes: Int)

  val tracked: Seq[String] = Seq("sync_token", "balance", "vendor_ref_value", "due_date")
  val spec: CheckSpec = CheckSpec(Seq("id", "sync_token", "balance", "vendor_ref_value",
    "due_date", "valid_from"), Set("balance"), Some("balance"))
  private val dimSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("sync_token", IntegerType),
    StructField("balance", DoubleType), StructField("vendor_ref_value", StringType),
    StructField("due_date", DateType), StructField("valid_from", StringType),
    StructField("valid_to", StringType)))

  def batchDate(id: Long): String = LocalDate.of(2025, 1, 1).plusDays(id).toString

  override def generate(spark: SparkSession, seed: Long, size: Double, dir: Path): Data = {
    val d = new Draw(seed)
    val keys = math.max(200, (5000 * size).toInt)
    val batches = math.max(4, (8 * math.min(1.0, size * 4)).toInt)
    val perBatch = math.max(20, (250 * size).toInt)
    val hot = math.max(perBatch, keys / 50)
    final case class Row(sync: Int, cents: Long, vendor: Int, due: LocalDate, from: String)
    val cur = mutable.HashMap.empty[Int, Row]
    val start = "2024-12-31"
    for (k <- 1 to keys) cur(k) = Row(0, d.cents(2000000), 1 + d.int(400), d.date(), start)
    var nextKey = keys + 1
    var rows = keys.toLong

    val dim0 = dir.resolve("dim0").toString
    val init = cur.toSeq.sortBy(_._1).map { case (k, r) =>
      org.apache.spark.sql.Row(k, r.sync, r.cents / 100.0, r.vendor.toString,
        java.sql.Date.valueOf(r.due), r.from, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(init, 4), dimSchema)
      .write.mode("overwrite").parquet(dim0)

    val after = new Array[After](batches)
    val files = (0 until batches).map { b =>
      val date = batchDate(b)
      val chosen = mutable.LinkedHashSet.empty[Int]
      while (chosen.size < perBatch * 3 / 10) chosen += 1 + d.int(hot)
      while (chosen.size < perBatch) {
        if (d.chance(0.05)) { chosen += nextKey; nextKey += 1 }
        else chosen += 1 + d.int(keys)
      }
      val lines = chosen.toSeq.map { k =>
        val old = cur.get(k)
        val row = old match {
          case Some(o) if d.chance(0.1) => o // re-send of unchanged values: a no-op
          case Some(o) => Row(o.sync + 1, d.cents(2000000),
            if (d.chance(0.2)) 1 + d.int(400) else o.vendor,
            if (d.chance(0.2)) o.due.plusDays(30) else o.due, date)
          case None => Row(0, d.cents(2000000), 1 + d.int(400), d.date(), date)
        }
        if (!old.contains(row)) { cur(k) = row; rows += 1 }
        J.obj("Id" -> Some(J.s(k.toString)), "SyncToken" -> Some(J.s(row.sync.toString)),
          "DocNumber" -> Some(J.s(s"B-$k")), "TxnDate" -> Some(J.s(date)),
          "DueDate" -> Some(J.s(row.due.toString)), "Balance" -> Some(J.amount(row.cents)),
          "VendorRef" -> Some(J.ref(row.vendor.toString, s"Vendor ${row.vendor}")),
          "APAccountRef" -> Some(J.ref("33", "Accounts Payable")),
          "Line" -> Some(J.arr(Seq(J.obj("Id" -> Some(J.s("1")),
            "Amount" -> Some(J.amount(row.cents)),
            "DetailType" -> Some(J.s("AccountBasedExpenseLineDetail")))))))
      }
      after(b) = After(rows, cur.size, cur.values.map(_.cents).sum)
      lines.mkString("", "\n", "\n").getBytes("UTF-8")
    }.toArray
    val last = spec.expect()
    cur.foreach { case (k, r) =>
      last.add(Seq(Some(k.toString), Some(r.sync.toString), Some(Check.money(r.cents)),
        Some(r.vendor.toString), Some(r.due.toString), Some(r.from)), r.cents)
    }
    new Data(dim0, files, after, last.truth, perBatch)
  }

  /** What the foreachBatch callback reports back to the landing loop. */
  private final case class Done(batch: Long, agg: After, callbackMs: Double, error: String)

  override def pass(ctx: PassCtx, data: Data): Unit = {
    val spark = ctx.spark
    val root = java.nio.file.Paths.get(data.dim0).resolveSibling(s"${ctx.tables}pass${ctx.pass}")
    Disk.delete(root)
    val in = Files.createDirectories(root.resolve("in"))
    val staging = Files.createDirectories(root.resolve("staging"))
    val store = new LedgerStore(spark, root.resolve("ledger").toString)
    @volatile var ledger: DataFrame = store.recover(spark.read.parquet(data.dim0))._1
    val done = new LinkedBlockingQueue[Done]()
    val traced = ctx.traced

    def readBack(l: DataFrame): After = {
      val current = col("valid_to").isNull
      val r = l.agg(count(lit(1)), count(when(current, 1)),
        sum(when(current, col("balance").cast("decimal(18,2)")))).head()
      After(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getDecimal(2).movePointRight(2).longValueExact)
    }

    val callback = (batch: DataFrame, id: Long) => {
      val c0 = System.nanoTime()
      try {
        Chain.run(ctx, "cdc",
          Layer("qbo.stage", None, _ => Entities.Bills.stage(batch)), identity,
          Seq(
            Layer("qbo.warehouse", Some("qbo.rows_out"),
              Entities.Bills.warehouse(_).select(("id" +: tracked).map(col): _*)),
            Layer("load.scd2_merge", Some("load.scd2_rows_rewritten"),
              Warehouse.mergeScd2(ledger, _, "id", tracked, batchDate(id)))),
          "streaming.ledger_commit", df => ledger = ctx.construct(store.commit(df, id)))
        val (agg, t) = ctx.step("cdc/queries.read_after_write")(readBack(ledger))
        if (traced) {
          ctx.addSelf("queries.read_after_write", t)
          ctx.finalTags += ctx.tagOf("cdc/queries.read_after_write")
        }
        done.put(Done(id, agg, (System.nanoTime() - c0) / 1e6, null))
      } catch {
        case e: Throwable =>
          done.put(Done(id, null, 0, s"batch $id: $e"))
          throw e
      }
    }

    val s0 = System.nanoTime()
    val query = spark.readStream.schema(Schemas.bill).option("maxFilesPerTrigger", "1")
      .json(in.toString).writeStream
      .option("checkpointLocation", root.resolve("checkpoint").toString)
      .foreachBatch(callback).start()
    ctx.streamRun = Some(query.runId.toString)
    if (traced) ctx.addSelf("streaming.start", (System.nanoTime() - s0) / 1e6)
    var ledgerBytes = 0L
    try {
      var b = 0
      var failed = false
      while (b < data.files.length && !failed) {
        val name = f"changes-$b%05d.json"
        Files.write(staging.resolve(name), data.files(b))
        val landed = System.nanoTime()
        Files.move(staging.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        val r = done.poll(120, TimeUnit.SECONDS)
        val latency = (System.nanoTime() - landed) / 1e6
        if (r == null || r.error != null) {
          ctx.check(Seq(Option(r).map(_.error).getOrElse(s"batch $b: no result in 120 s")))
          failed = true
        } else {
          ctx.batchMs += latency
          if (traced) ctx.addSelf("streaming.batch_overhead", latency - r.callbackMs)
          val want = data.after(b)
          ctx.check(if (r.batch == b && r.agg == want) Nil
            else Seq(s"batch $b: read-after-write ${r.agg} (batch ${r.batch}), expected $want"))
          ledgerBytes += Disk.bytes(root.resolve("ledger").resolve(s"ledger_v$b"))
        }
        b += 1
      }
      ctx.wallMs = (System.nanoTime() - s0) / 1e6
      // let the last trigger finish, so its progress event is reported
      if (!failed) query.processAllAvailable()
    } finally {
      query.stop()
    }
    ctx.records = data.files.length.toLong * data.changes
    ctx.inputBytes = data.files.map(_.length.toLong).sum
    ctx.bytesWritten = ledgerBytes + Disk.bytes(root.resolve("checkpoint"))
    ctx.addCount("streaming.ledger_bytes_written", ledgerBytes.toDouble)

    val lastDir = root.resolve("ledger").resolve(s"ledger_v${data.files.length - 1}").toString
    if (ctx.corrupt)
      spark.read.parquet(lastDir).filter(col("valid_to").isNull).limit(1)
        .write.mode("append").parquet(lastDir)
    ctx.check(data.last.diff(
      spec.measure(spark.read.parquet(lastDir).filter(col("valid_to").isNull)),
      "current slice"))
    Disk.delete(root)
  }
}
