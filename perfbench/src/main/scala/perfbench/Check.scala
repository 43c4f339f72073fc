package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** What a written table must hold: its row count, the exact sum of one
  * numeric column, and an order-insensitive hash of its checked columns
  * (the sum over rows of xxhash64 of the row rendered as text).
  */
final case class Truth(rows: Long, sum: BigDecimal, hash: BigInt) {
  def diff(actual: Truth, what: String): Seq[String] =
    Seq(
      (rows != actual.rows) -> s"$what: rows ${actual.rows}, expected $rows",
      (sum.compare(actual.sum) != 0) -> s"$what: sum ${actual.sum}, expected $sum",
      (hash != actual.hash) -> s"$what: row hash ${actual.hash}, expected $hash")
      .collect { case (true, msg) => msg }
}

/** Checked columns of one table. `money` columns render as
  * decimal(18,2) text; `sum` names the column whose exact sum is
  * compared (as decimal(18,2)).
  */
final case class CheckSpec(cols: Seq[String], money: Set[String] = Set.empty,
    sum: Option[String] = None) {

  /** Measure a written table on the Spark side. */
  def measure(df: DataFrame): Truth = {
    def text(c: String): Column = {
      val v = if (money(c)) col(c).cast("decimal(18,2)") else col(c)
      coalesce(v.cast("string"), lit(Check.Null))
    }
    val line = concat_ws(Check.Sep, cols.map(text): _*)
    val s = sum.map(c => col(c).cast("decimal(18,2)"))
      .getOrElse(lit(0).cast("decimal(18,2)"))
    val r = df.agg(count(lit(1)), sum_(s),
      sum_(xxhash64(line).cast("decimal(38,0)"))).head()
    Truth(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
      if (r.isNullAt(2)) BigInt(0) else BigInt(r.getDecimal(2).toBigInteger))
  }

  private def sum_(c: Column): Column = org.apache.spark.sql.functions.sum(c)

  /** Generator-side accumulator for the same three figures. */
  def expect(): Check.Acc = new Check.Acc(cols.length)
}

object Check {
  val Sep = "|"
  val Null = "~"

  /** Spark's `xxhash64` of one string value (seed 42). */
  def hash(line: String): Long = XXH64.hashUTF8String(UTF8String.fromString(line), 42L)

  /** Text of a money amount held in cents, as decimal(18,2) renders it. */
  def money(cents: Long): String = BigDecimal(cents, 2).bigDecimal.toPlainString

  final class Acc(width: Int) {
    private var rows = 0L
    private var sumCents = 0L
    // a long sum of 64-bit hashes would overflow
    private var hashSum = BigInt(0)

    /** One expected row: its checked values (None = null) and the cents
      * it adds to the summed column.
      */
    def add(values: Seq[Option[String]], cents: Long = 0L): Unit = {
      require(values.length == width, s"row has ${values.length} values, spec $width")
      rows += 1
      sumCents += cents
      hashSum += hash(values.map(_.getOrElse(Null)).mkString(Sep))
    }

    def truth: Truth = Truth(rows, BigDecimal(sumCents, 2), hashSum)
  }
}
