package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.time.{LocalDate, YearMonth}
import java.util.SplittableRandom
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.load.Warehouse
import graft.qbo.{Entities, QboHttpApi, QboOAuth2TokenSource, QboSource, Reports}

/** Text builders for the generated QBO JSON. A field whose value is
  * `None` is left out of its object.
  */
object J {
  def s(v: String): String = Json.quote(v)
  def amount(cents: Long): String = Check.money(cents)
  def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => s"${s(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def ref(value: String, name: String): String =
    obj("value" -> Some(s(value)), "name" -> Some(s(name)))
}

/** Seeded draws shared by the generators. */
final class Draw(seed: Long) {
  val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def chance(p: Double): Boolean = r.nextDouble() < p
  def cents(max: Long): Long = r.nextLong(max)
  def date(): LocalDate = LocalDate.of(2023, 1, 1).plusDays(r.nextInt(730))
  /** Heavy-tailed line count: Pareto(α = 1.3) from 1, capped at 150. */
  def lineCount(): Int =
    math.min(150, math.floor(1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)).toInt)
  /** Line array as (text, lines): 5% missing, 5% empty. */
  def lines(render: Int => String): (Option[String], Int) =
    if (chance(0.05)) (None, 0)
    else if (chance(0.05)) (Some("[]"), 0)
    else {
      val n = lineCount()
      (Some(J.arr((1 to n).map(render))), n)
    }
}

/** One entity feed: how to render a record, what its warehouse table
  * must hold, and the engine calls that stage and cast it. `selected`
  * are the (dotted) paths the stage reads.
  */
final case class EntityFeed(entity: String, table: String, count: Int,
    spec: CheckSpec, selected: Seq[String],
    stage: DataFrame => DataFrame, warehouse: DataFrame => DataFrame,
    render: (Draw, Int, Check.Acc) => String)

/** Serves pre-rendered QBO pages on loopback from one thread: the OAuth2
  * token endpoint, the entity `/query` endpoint (STARTPOSITION paging,
  * an empty envelope past the end) and `/reports/ProfitAndLoss`.
  * Counts entity queries, queries that returned rows, and bytes served.
  */
final class QboServer {
  final class Realm(val pages: Map[String, Array[Array[Byte]]],
      val reports: Map[String, Array[Byte]])
  private val realms = TrieMap.empty[String, Realm]
  val queries = new AtomicLong
  val useful = new AtomicLong
  val bytes = new AtomicLong
  val Token = "bench-access-token"

  // TCP_NODELAY on accepted connections: without it every response's
  // body waits on the client's delayed ACK of the headers (~40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "qbo-server"); t.setDaemon(true); t
  }
  server.setExecutor(pool)
  private val empty = """{"QueryResponse":{}}""".getBytes("UTF-8")
  private val QueryRe = """FROM (\w+) STARTPOSITION (\d+)""".r.unanchored

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, body.length.toLong)
    val out = ex.getResponseBody
    out.write(body)
    out.close()
  }

  server.createContext("/oauth2/token", (ex: HttpExchange) => {
    ex.getRequestBody.readAllBytes()
    respond(ex, 200, (s"""{"access_token":"$Token","refresh_token":"bench-refresh",""" +
      """"expires_in":3600}""").getBytes("UTF-8"))
  })

  server.createContext("/v3/company/", (ex: HttpExchange) => {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val parts = ex.getRequestURI.getPath.split("/")
    val realm = realms.get(parts(3))
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $Token")
      respond(ex, 401, """{"fault":"AuthenticationFault"}""".getBytes("UTF-8"))
    else if (realm.isEmpty) respond(ex, 404, empty)
    else if (parts(4) == "query") {
      queries.incrementAndGet()
      val page = body match {
        case QueryRe(entity, start) =>
          realm.get.pages.get(entity).flatMap(_.lift((start.toInt - 1) / QboSource.PageSize))
        case _ => None
      }
      page.foreach { p => useful.incrementAndGet(); bytes.addAndGet(p.length) }
      respond(ex, 200, page.getOrElse(empty))
    } else {
      val month = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .collectFirst { case kv if kv.startsWith("start_date=") => kv.drop(11).take(7) }
      realm.get.reports.get(month.getOrElse("")) match {
        case Some(r) => bytes.addAndGet(r.length); respond(ex, 200, r)
        case None => respond(ex, 404, empty)
      }
    }
  })
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def tokenUrl: String = s"$base/oauth2/token"
  def register(name: String, realm: Realm): Unit = realms.put(name, realm)
  def reset(): Unit = Seq(queries, useful, bytes).foreach(_.set(0))
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** `qbo_full_refresh`: the reference pipeline. Five entity feeds are
  * pulled over loopback HTTP through the `qbo` DSv2 source, staged and
  * cast by `Entities`, and fully refreshed into warehouse tables; 24
  * monthly P&L reports are fetched by `Reports.Fetch`, flattened, cast
  * and appended per month.
  */
final class QboFullRefresh(cores: Int) extends Workload {

  final class Data(val realm: String, val feeds: Seq[EntityFeed],
      val pages: Map[String, Int], val truth: Map[String, Truth],
      val first: YearMonth, val last: YearMonth, val entities: Long)

  private lazy val server = new QboServer
  private var realms = 0

  private def moneyText(cents: Long): Option[String] = Some(Check.money(cents))
  private def dbl(v: Int): Option[String] = Some(s"$v.0")
  private def ts(d: LocalDate): String = s"$d 00:00:00"

  /** An expense line as (text, cents, account id). */
  private def expenseLine(d: Draw, k: Int): (String, Long, Int) = {
    val cents = d.cents(500000)
    val acct = 1 + d.int(90)
    (J.obj("Id" -> Some(J.s(k.toString)), "Description" -> Some(J.s(s"item $k")),
      "Amount" -> Some(J.amount(cents)),
      "DetailType" -> Some(J.s("AccountBasedExpenseLineDetail")),
      "AccountBasedExpenseLineDetail" -> Some(J.obj(
        "AccountRef" -> Some(J.ref(acct.toString, s"Account $acct")),
        "BillableStatus" -> Some(J.s("NotBillable")),
        "TaxCodeRef" -> Some(J.obj("value" -> Some(J.s("NON"))))))), cents, acct)
  }

  private def feeds(size: Double): Seq[EntityFeed] = {
    def n(full: Int): Int = math.max(20, (full * size).toInt)
    Seq(
      EntityFeed("Bill", "bill", n(24000),
        CheckSpec(Seq("id", "sync_token", "doc_number", "txn_date", "due_date", "balance",
          "vendor_ref_value", "vendor_ref_name", "ap_account_ref_value"),
          Set("balance"), Some("balance")),
        Entities.Bills.selected,
        Entities.Bills.stage, Entities.Bills.warehouse,
        (d, id, acc) => {
          val sync = d.int(6)
          val doc = if (d.chance(0.9)) Some(s"B-$id") else None
          val txn = d.date()
          val due = if (d.chance(0.9)) Some(txn.plusDays(30)) else None
          val bal = d.cents(2000000)
          val vendor = if (d.chance(0.05)) None else Some(1 + d.int(400))
          val ap = d.chance(0.9)
          val (lines, _) = d.lines(k => expenseLine(d, k)._1)
          val linked = if (d.chance(0.3))
            Some(J.arr(Seq(J.obj("TxnId" -> Some(J.s(s"${id + 7}")),
              "TxnType" -> Some(J.s("BillPaymentCheck")))))) else None
          acc.add(Seq(Some(id.toString), Some(sync.toString), doc, Some(txn.toString),
            due.map(_.toString), moneyText(bal), vendor.map(_.toString),
            vendor.map(v => s"Vendor $v"), if (ap) Some("33") else None), bal)
          J.obj("Id" -> Some(J.s(id.toString)), "SyncToken" -> Some(J.s(sync.toString)),
            "DocNumber" -> doc.map(J.s), "TxnDate" -> Some(J.s(txn.toString)),
            "DueDate" -> due.map(x => J.s(x.toString)), "Balance" -> Some(J.amount(bal)),
            "PrivateNote" -> (if (d.chance(0.3)) Some(J.s(s"note $id")) else None),
            "VendorRef" -> Some(vendor.map(v => J.ref(v.toString, s"Vendor $v")).getOrElse("null")),
            "APAccountRef" -> (if (ap) Some(J.ref("33", "Accounts Payable")) else None),
            "Line" -> lines, "LinkedTxn" -> linked)
        }),
      EntityFeed("BillPayment", "bill_payment", n(16000),
        CheckSpec(Seq("pay_type", "total_amt", "id", "txn_date", "vendor_ref_value",
          "check_payment_bank_account_ref_value",
          "credit_card_payment_cc_account_ref_value", "doc_number"),
          Set("total_amt"), Some("total_amt")),
        Entities.BillPayments.selected,
        Entities.BillPayments.stage, Entities.BillPayments.warehouse,
        (d, id, acc) => {
          val check = d.chance(0.6)
          val amt = d.cents(1000000)
          val txn = d.date()
          val doc = if (d.chance(0.8)) Some(s"P-$id") else None
          val vendor = if (d.chance(0.03)) None else Some(1 + d.int(400))
          val bank = check && d.chance(0.9)
          acc.add(Seq(Some(if (check) "Check" else "CreditCard"), moneyText(amt),
            Some(id.toString), Some(ts(txn)), vendor.map(_.toString),
            Some(if (bank) "12" else "0"), Some(if (check) "0" else "19"), doc), amt)
          J.obj("Id" -> Some(J.s(id.toString)),
            "PayType" -> Some(J.s(if (check) "Check" else "CreditCard")),
            "TotalAmt" -> Some(J.amount(amt)), "TxnDate" -> Some(J.s(txn.toString)),
            "DocNumber" -> doc.map(J.s),
            "VendorRef" -> vendor.map(v => J.ref(v.toString, s"Vendor $v")),
            "CheckPayment" -> (if (!check) None
              else if (bank) Some(J.obj("BankAccountRef" -> Some(J.ref("12", "Checking"))))
              else Some("null")),
            "CreditCardPayment" -> (if (check) None
              else Some(J.obj("CCAccountRef" -> Some(J.ref("19", "Corporate Visa"))))))
        }),
      EntityFeed("JournalEntry", "journal_entry", n(10000),
        CheckSpec(Seq("id", "adjustment", "txn_date", "line_id", "line_amount",
          "line_posting_type", "line_entity_value", "line_account_value",
          "line_class_value"), Set("line_amount"), Some("line_amount")),
        Entities.JournalEntries.selected,
        Entities.JournalEntries.stage, Entities.JournalEntries.warehouse,
        (d, id, acc) => {
          val adj = if (d.chance(0.05)) None else Some(d.chance(0.1))
          val txn = d.date()
          val rows = mutable.ArrayBuffer.empty[(Seq[Option[String]], Long)]
          val (lines, n) = d.lines { k =>
            val cents = d.cents(300000)
            val posting = if (d.chance(0.5)) "Debit" else "Credit"
            val entity = if (d.chance(0.2)) None else Some(1 + d.int(400))
            val acct = 1 + d.int(90)
            val cls = if (d.chance(0.5)) Some(1 + d.int(12)) else None
            val dept = if (d.chance(0.3)) Some(1 + d.int(8)) else None
            rows += ((Seq(Some(k.toString), moneyText(cents), Some(posting),
              Some(s"${entity.getOrElse(0)}.0"), dbl(acct), cls.flatMap(dbl)), cents))
            J.obj("Id" -> Some(J.s(k.toString)), "Description" -> Some(J.s(s"je line $k")),
              "Amount" -> Some(J.amount(cents)),
              "DetailType" -> Some(J.s("JournalEntryLineDetail")),
              "JournalEntryLineDetail" -> Some(J.obj(
                "PostingType" -> Some(J.s(posting)),
                "Entity" -> entity.map(e => J.obj("Type" -> Some(J.s("Vendor")),
                  "EntityRef" -> Some(J.ref(e.toString, s"Vendor $e")))),
                "AccountRef" -> Some(J.ref(acct.toString, s"Account $acct")),
                "ClassRef" -> cls.map(c => J.ref(c.toString, s"Class $c")),
                "DepartmentRef" -> dept.map(x => J.ref(x.toString, s"Dept $x")))))
          }
          val head = Seq(Some(id.toString), adj.map(_.toString), Some(ts(txn)))
          if (n == 0) acc.add(head ++ Seq(None, None, None, Some("0.0"), None, None))
          else rows.foreach { case (vals, cents) => acc.add(head ++ vals, cents) }
          J.obj("Id" -> Some(J.s(id.toString)), "Adjustment" -> adj.map(_.toString),
            "DocNumber" -> Some(J.s(s"JE-$id")), "TxnDate" -> Some(J.s(txn.toString)),
            "PrivateNote" -> (if (d.chance(0.2)) Some(J.s("accrual")) else None),
            "Line" -> lines)
        }),
      EntityFeed("Purchase", "purchase", n(12000),
        CheckSpec(Seq("id", "payment_type", "credit", "total_amt", "txn_date",
          "entity_ref_value", "line_id", "line_amount", "line_account_value"),
          Set("total_amt", "line_amount"), Some("line_amount")),
        Entities.Purchases.selected,
        Entities.Purchases.stage, Entities.Purchases.warehouse,
        (d, id, acc) => {
          // non-numeric ids and entity refs coerce to 0 (pd.to_numeric
          // errors='coerce' then fillna(0))
          val idText = if (d.chance(0.05)) s"P-$id" else id.toString
          val pay = Seq("Cash", "Check", "CreditCard")(d.int(3))
          val credit = if (d.chance(0.5)) None else Some(d.chance(0.2))
          val total = d.cents(1500000)
          val txn = d.date()
          val entity = if (d.chance(0.1)) None
            else Some(if (d.chance(0.05)) s"V-${d.int(400)}" else (1 + d.int(400)).toString)
          val rows = mutable.ArrayBuffer.empty[(Seq[Option[String]], Long)]
          val (lines, n) = d.lines { k =>
            val (text, cents, acct) = expenseLine(d, k)
            rows += ((Seq(Some(k.toString), moneyText(cents), Some(acct.toString)), cents))
            text
          }
          val numericId = if (idText.forall(_.isDigit)) idText else "0"
          val entityValue = entity.filter(_.forall(_.isDigit)).getOrElse("0")
          val head = Seq(Some(numericId), Some(pay), credit.map(_.toString),
            moneyText(total), Some(txn.toString), Some(entityValue))
          if (n == 0) acc.add(head ++ Seq(Some("0"), None, Some("0")))
          else rows.foreach { case (vals, cents) => acc.add(head ++ vals, cents) }
          J.obj("Id" -> Some(J.s(idText)), "PaymentType" -> Some(J.s(pay)),
            "Credit" -> credit.map(_.toString), "TotalAmt" -> Some(J.amount(total)),
            "TxnDate" -> Some(J.s(txn.toString)),
            "PrivateNote" -> (if (d.chance(0.2)) Some(J.s("card")) else None),
            "AccountRef" -> Some(J.ref("41", "Checking")),
            "EntityRef" -> entity.map(e => J.ref(e, s"Payee $e")), "Line" -> lines)
        }),
      EntityFeed("Deposit", "deposit", n(8000),
        CheckSpec(Seq("id", "total_amt", "txn_date", "deposit_to_account_ref_value",
          "currency_ref_value", "doc_number"), Set("total_amt"), Some("total_amt")),
        Entities.Deposits.selected,
        Entities.Deposits.stage, Entities.Deposits.warehouse,
        (d, id, acc) => {
          val total = d.cents(3000000)
          val txn = d.date()
          val account = 1 + d.int(20)
          val usd = !d.chance(0.1)
          val doc = if (d.chance(0.7)) Some(s"D-$id") else None
          val (lines, _) = d.lines(_ => J.obj("Amount" -> Some(J.amount(d.cents(100000))),
            "DetailType" -> Some(J.s("DepositLineDetail"))))
          acc.add(Seq(Some(id.toString), moneyText(total), Some(ts(txn)),
            Some(account.toString), if (usd) Some("USD") else None, doc), total)
          J.obj("Id" -> Some(J.s(id.toString)), "TotalAmt" -> Some(J.amount(total)),
            "TxnDate" -> Some(J.s(txn.toString)),
            "PrivateNote" -> (if (d.chance(0.2)) Some(J.s("deposit")) else None),
            "Line" -> lines,
            "DepositToAccountRef" -> Some(J.ref(account.toString, s"Bank $account")),
            "CurrencyRef" -> Some(if (usd) J.ref("USD", "United States Dollar") else "null"),
            "DocNumber" -> doc.map(J.s))
        }))
  }

  val pnlSpec: CheckSpec = CheckSpec(Seq("month", "category", "total_amount"),
    Set("total_amount"), Some("total_amount"))

  /** One monthly P&L tree of random depth; appends the rows the
    * reference's flatten + cleanup must produce for it.
    */
  private def pnlReport(d: Draw, month: YearMonth, size: Double, acc: Check.Acc): String = {
    val label = month.getMonth.getDisplayName(java.time.format.TextStyle.SHORT,
      java.util.Locale.US) + "," + month.getYear
    def emit(category: String, cents: Long): Unit =
      acc.add(Seq(Some(label), Some(if (category.isEmpty) "0" else category),
        Some(Check.money(cents))), cents)
    // returns (row json, subtree total)
    def section(name: String, depth: Int): (String, Long) = {
      emit(name, 0L) // header row: name, empty total
      val width = 2 + d.int(math.max(2, (8 * math.sqrt(size)).toInt))
      val children = (1 to width).map { i =>
        if (depth > 1 && d.chance(0.3)) section(s"$name/$i", depth - 1)
        else {
          val cents = d.cents(5000000)
          val acct = if (d.chance(0.05)) "" else s"$name acct $i"
          emit(acct, cents)
          (J.obj("ColData" -> Some(J.arr(Seq(J.obj("value" -> Some(J.s(acct))),
            J.obj("value" -> Some(J.s(J.amount(cents))))))),
            "type" -> Some(J.s("Data"))), cents)
        }
      }
      val total = children.map(_._2).sum
      emit(s"Total $name", total)
      (J.obj(
        "Header" -> Some(J.obj("ColData" -> Some(J.arr(Seq(
          J.obj("value" -> Some(J.s(name))), J.obj("value" -> Some(J.s("")))))))),
        "Rows" -> Some(J.obj("Row" -> Some(J.arr(children.map(_._1))))),
        "Summary" -> Some(J.obj("ColData" -> Some(J.arr(Seq(
          J.obj("value" -> Some(J.s(s"Total $name"))),
          J.obj("value" -> Some(J.s(J.amount(total))))))))),
        "type" -> Some(J.s("Section"))), total)
    }
    val sections = Seq("Income", "Cost of Goods Sold", "Expenses", "Other Expenses")
      .map(s => section(s, 1 + d.int(4))._1)
    J.obj("Header" -> Some(J.obj("ReportName" -> Some(J.s("ProfitAndLoss")),
      "StartPeriod" -> Some(J.s(month.atDay(1).toString)),
      "EndPeriod" -> Some(J.s(month.atEndOfMonth().toString)))),
      "Rows" -> Some(J.obj("Row" -> Some(J.arr(sections)))))
  }

  override def generate(spark: SparkSession, seed: Long, size: Double, dir: Path): Data = {
    val fs = feeds(size)
    val truth = mutable.LinkedHashMap.empty[String, Truth]
    val pages = mutable.LinkedHashMap.empty[String, Array[Array[Byte]]]
    var base = 1000
    fs.zipWithIndex.foreach { case (f, i) =>
      val d = new Draw(seed * 31 + i)
      val acc = f.spec.expect()
      val recs = (0 until f.count).map(k => f.render(d, base + k, acc))
      base += f.count + 1000
      pages(f.entity) = recs.grouped(QboSource.PageSize).zipWithIndex.map { case (g, p) =>
        s"""{"QueryResponse":{"${f.entity}":${g.mkString("[", ",", "]")},""" +
          s""""startPosition":${p * QboSource.PageSize + 1},"maxResults":${g.size}}}"""
      }.map(_.getBytes("UTF-8")).toArray
      truth(f.table) = acc.truth
    }
    val first = YearMonth.of(2023, 1)
    val last = first.plusMonths(23)
    val d = new Draw(seed * 31 + 97)
    val acc = pnlSpec.expect()
    val reports = (0 until 24).map { i =>
      val m = first.plusMonths(i)
      m.toString -> pnlReport(d, m, size, acc).getBytes("UTF-8")
    }.toMap
    truth("pnl") = acc.truth
    realms += 1
    val realm = s"realm$realms"
    server.register(realm, new server.Realm(pages.toMap, reports))
    new Data(realm, fs, pages.map { case (k, v) => k -> v.length }.toMap, truth.toMap,
      first, last, fs.map(_.count.toLong).sum)
  }

  override def pass(ctx: PassCtx, data: Data): Unit = {
    val spark = ctx.spark
    server.reset()
    val s0 = System.nanoTime()
    data.feeds.foreach { f =>
      val table = ctx.tables + f.table
      val b0 = System.nanoTime()
      Chain.run(ctx, f.entity,
        Layer("sources.scan", Some("sources.rows_out"), _ => spark.read.format("qbo")
          .option("entity", f.entity).option("httpBaseUrl", server.base)
          .option("realm", data.realm).option("tokenUrl", server.tokenUrl)
          .option("clientId", "bench").option("clientSecret", "bench-secret")
          .option("refreshToken", "bench-refresh")
          .option("fetchPartitions", math.max(1, math.min(cores, data.pages(f.entity))).toString)
          .load()),
        df => df.select(f.selected.map(_.takeWhile(_ != '.')).distinct.map(col): _*),
        Seq(Layer("qbo.stage", None, f.stage),
          Layer("qbo.warehouse", Some("qbo.rows_out"), f.warehouse)),
        "load.full_refresh", df => Warehouse.fullRefresh(df, table))
      ctx.batchMs += (System.nanoTime() - b0) / 1e6
    }
    val b0 = System.nanoTime()
    val api = new QboHttpApi(server.base, data.realm, new QboOAuth2TokenSource(
      server.tokenUrl, "bench", "bench-secret", "bench-refresh"))
    val (reports, fetchMs) = ctx.step("pnl/qbo.reports_fetch")(
      Reports.Fetch.profitAndLoss(api, data.first, data.last))
    if (ctx.traced) ctx.addSelf("qbo.reports_fetch", fetchMs)
    val pnl = ctx.tables + "pnl"
    Chain.run(ctx, "pnl",
      Layer("qbo.reports_flatten", None, _ =>
        Reports.ProfitAndLoss.warehouse(Reports.ProfitAndLoss.stage(
          Reports.ProfitAndLoss.flatten(spark, reports).toDF()))),
      identity, Nil, "load.append_month", df => Warehouse.appendMonth(df, pnl))
    ctx.batchMs += (System.nanoTime() - b0) / 1e6
    ctx.wallMs = (System.nanoTime() - s0) / 1e6
    ctx.records = data.entities
    ctx.inputBytes = server.bytes.get()
    if (!ctx.traced) {
      ctx.addCount("sources.http_requests", server.queries.get().toDouble)
      ctx.addCount("sources.useful_fetch_ratio",
        server.useful.get().toDouble / math.max(1L, server.queries.get()))
    }

    if (ctx.corrupt) {
      // self-test: a duplicated row must fail the check
      val t = ctx.tables + data.feeds.head.table
      spark.table(t).limit(1).write.mode("append").insertInto(t)
    }
    val written = (data.feeds.map(_.table) :+ "pnl").map { t =>
      val table = ctx.tables + t
      val spec = if (t == "pnl") pnlSpec else data.feeds.find(_.table == t).get.spec
      ctx.check(data.truth(t).diff(spec.measure(spark.table(table)), table))
      Disk.table(spark, table)
    }
    val files = written.flatMap(Disk.dataFiles)
    ctx.bytesWritten = files.map(Files.size).sum
    ctx.addCount("load.bytes_written", ctx.bytesWritten.toDouble)
    ctx.addCount("load.files_written", files.size.toDouble)
  }

  override def close(): Unit = server.stop()
}
