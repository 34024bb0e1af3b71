package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, LocalDate, LocalDateTime}

import org.apache.spark.sql.types._

/** The seeded retail input generator. Every value is a pure function of
  * (seed, tag, row id) through splitmix64 — no RNG state — so any rerun
  * gives the same bytes.
  */
object Gen {

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, tag: Long, id: Long): Long = mix(mix(mix(seed) ^ tag) ^ id)
  private def pm(x: Long, m: Int): Int = (((x % m) + m) % m).toInt

  // ---- retail: the Online-Retail raw_invoices CSV ------------------------

  /** The explicit load schema (the reference's raw_invoices columns, with
    * the float CustomerID pandas produces). */
  val RetailSchema: StructType = StructType(Seq(
    StructField("InvoiceNo", StringType),
    StructField("StockCode", StringType),
    StructField("Description", StringType),
    StructField("Quantity", LongType),
    StructField("InvoiceDate", StringType),
    StructField("UnitPrice", DoubleType),
    StructField("CustomerID", DoubleType),
    StructField("Country", StringType)))

  /** The source file's row count. */
  val RetailRows = 541909

  final case class RetailFacts(rows: Int, invoices: Int, nullCustomerRows: Int,
                               cancelRows: Int, splitInvoices: Int, zeroPriceRows: Int,
                               nullDescriptionRows: Int, bytes: Long) {
    def nullShare: Double = nullCustomerRows.toDouble / rows
    def cancelShare: Double = cancelRows.toDouble / rows
  }

  private val Countries = Array(
    "Germany", "France", "EIRE", "Spain", "Netherlands", "Belgium", "Switzerland",
    "Portugal", "Australia", "Norway", "Italy", "Channel Islands", "Finland",
    "Cyprus", "Sweden", "Unspecified", "Austria", "Denmark", "Japan", "Poland",
    "Israel", "USA", "Hong Kong", "Singapore", "Iceland", "Canada", "Greece",
    "Malta", "United Arab Emirates", "European Community", "RSA", "Lebanon",
    "Lithuania", "Brazil", "Czech Republic", "Bahrain", "Saudi Arabia")
  private val DescWords = Array(
    "WHITE", "HANGING", "HEART", "T-LIGHT", "HOLDER", "METAL", "LANTERN",
    "CREAM", "CUPID", "HEARTS", "COAT", "HANGER", "KNITTED", "UNION", "FLAG",
    "HOT", "WATER", "BOTTLE", "RED", "WOOLLY", "SET", "OF", "BABUSHKA",
    "NESTING", "BOXES", "GLASS", "STAR", "FROSTED", "HAND", "WARMER", "JACK",
    "POLKADOT", "ALARM", "CLOCK", "BAKELIKE", "PINK", "BLUE", "GREEN", "JAM",
    "MAKING", "PRINTED", "RETROSPOT", "LUNCH", "BAG", "VINTAGE", "PAISLEY",
    "CAKE", "CASES", "REGENCY", "CAKESTAND", "TIER", "PARTY", "BUNTING", "CAFÉ",
    "CRÈME", "NOËL")
  private val NProducts = 3958
  private val NCustomers = 4372
  private val FirstCustomer = 12346
  private val Start = LocalDate.of(2010, 12, 1)
  // trading days: 2010-12-01 .. 2011-12-09 without Saturdays (the source has
  // none, and the dim_datetime gate's weekday range relies on that)
  private val Days: Array[LocalDate] =
    Iterator.iterate(Start)(_.plusDays(1)).takeWhile(!_.isAfter(LocalDate.of(2011, 12, 9)))
      .filter(_.getDayOfWeek != DayOfWeek.SATURDAY).toArray

  private def stockCode(p: Int): String = p match {
    case 0 => "POST"
    case 1 => "D"
    case 2 => "M"
    case 3 => "DOT"
    case _ =>
      val base = (20000 + p * 19 % 70000).toString
      if (p % 7 == 0) base + ('A' + p % 5).toChar else base
  }

  private def description(seed: Long, p: Int): String = p match {
    case 0 => "POSTAGE"
    case 1 => "Discount"
    case 2 => "Manual"
    case 3 => "DOTCOM POSTAGE"
    case _ =>
      val n = 1 + pm(h(seed, 0xD35L, p), 3)
      val words = (0 until n).map(k => DescWords(pm(h(seed, 0xD36L, p * 8L + k), DescWords.length)))
      // a few descriptions carry a comma, as the source file's do (quoted in the CSV)
      if (pm(h(seed, 0xD37L, p), 50) == 0) words.head + ", " + words.tail.mkString(" ")
      else words.mkString(" ")
  }

  private def basePriceCents(seed: Long, p: Int): Long = p match {
    case 0 => 1800L
    case 3 => 4500L
    case 1 | 2 => 125L
    case _ => 19L + pm(h(seed, 0x9A1L, p), 40) * 25L * (1 + pm(h(seed, 0x9A2L, p), 3))
  }

  private def customerCountry(seed: Long, c: Int): String =
    if (pm(h(seed, 0xC0CL, c), 100) < 89) "United Kingdom"
    else Countries(pm(h(seed, 0xC0DL, c), Countries.length))

  private def csvField(s: String): String =
    if (s.indexOf(',') >= 0 || s.indexOf('"') >= 0) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def money(cents: Long): String = {
    val s = (cents / 100).toString + "." + f"${cents % 100}%02d"
    // the source prints prices the way pandas does: 2.55, 0.85, 18.0
    if (s.endsWith("0") && !s.endsWith(".00")) s.dropRight(1)
    else if (s.endsWith(".00")) s.dropRight(1) else s
  }

  /** Write an Online-Retail-shaped `raw_invoices` CSV (ISO-8859-1, header,
    * `rows` lines) and return its shape facts. */
  def retailCsv(seed: Long, path: String, rows: Int = RetailRows): RetailFacts = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.ISO_8859_1), 1 << 20)
    val expectedInvoices = math.max(1, rows / 21)
    var written = 0
    var inv = 0
    var nullRows = 0; var cancelRows = 0; var split = 0; var zero = 0; var nullDesc = 0
    try {
      out.write("InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n")
      while (written < rows) {
        val ih = h(seed, 0x1AL, inv)
        val lines = math.min(1 + pm(ih, 41), rows - written)
        val cancel = pm(h(seed, 0x1BL, inv), 50) == 0
        val noCustomer = pm(h(seed, 0x1CL, inv), 4) == 0
        val cust = FirstCustomer + pm(h(seed, 0x1DL, inv), NCustomers)
        val country =
          if (noCustomer) customerCountry(seed, -1 - pm(h(seed, 0x1EL, inv), 400))
          else customerCountry(seed, cust)
        val dayIdx = math.min(Days.length - 1, (inv.toLong * Days.length / expectedInvoices).toInt)
        val minute = 7 * 60 + pm(h(seed, 0x1FL, inv), 13 * 60)
        val at = Days(dayIdx % Days.length).atStartOfDay().plusMinutes(minute)
        // a few dozen invoices straddle a minute boundary: later lines read +1 min
        val straddles = lines > 1 && pm(h(seed, 0x20L, inv), math.max(1, expectedInvoices / 36)) == 0
        if (straddles) split += 1
        val invoiceNo = (if (cancel) "C" else "") + (536365 + inv)
        var l = 0
        while (l < lines) {
          val lh = h(seed, 0x21L, written.toLong)
          // 1% postage/manual lines; "D"iscount only on cancellations
          val p =
            if (cancel && l == 0 && pm(lh, 3) == 0) 1
            else if (pm(lh, 97) == 0) Array(0, 2, 3)(pm(lh >>> 8, 3))
            else 4 + pm(h(seed, 0x22L, written.toLong), NProducts - 4)
          val qty0 = 1 + pm(h(seed, 0x23L, written.toLong), 24) *
            (if (pm(lh >>> 16, 20) == 0) 4 else 1)
          val qty = if (cancel) -qty0 else qty0
          val noDesc = !cancel && pm(lh >>> 24, 330) == 0
          val priceCents =
            if (noDesc || pm(lh >>> 32, 1000) == 0) 0L
            else {
              val b = basePriceCents(seed, p)
              if (pm(lh >>> 40, 10) == 0) math.max(1L, b * 85 / 100) else b
            }
          if (priceCents == 0) zero += 1
          if (noDesc) nullDesc += 1
          if (noCustomer) nullRows += 1
          if (cancel) cancelRows += 1
          val ts = if (straddles && l >= lines / 2) at.plusMinutes(1) else at
          out.write(invoiceNo); out.write(',')
          out.write(stockCode(p)); out.write(',')
          if (!noDesc) out.write(csvField(description(seed, p)))
          out.write(','); out.write(qty.toString); out.write(',')
          out.write(tsText(ts)); out.write(',')
          out.write(money(priceCents)); out.write(',')
          if (!noCustomer) out.write(cust.toString)
          out.write(','); out.write(csvField(country)); out.write('\n')
          written += 1
          l += 1
        }
        inv += 1
      }
    } finally out.close()
    RetailFacts(written, inv, nullRows, cancelRows, split, zero, nullDesc,
      new java.io.File(path).length())
  }

  private def tsText(t: LocalDateTime): String =
    s"${t.getMonthValue}/${t.getDayOfMonth}/${t.getYear} ${t.getHour}:${f"${t.getMinute}%02d"}"

  /** The source file's shape facts, within a tolerance: the row count,
    * ~25.8k invoices, ~25% null CustomerID, ~2% cancellations, a few
    * dozen split-timestamp invoices. */
  def assertRetailShape(f: RetailFacts, rows: Int): Unit = {
    def check(ok: Boolean, what: String): Unit =
      if (!ok) throw new IllegalStateException(s"retail generator shape: $what ($f)")
    check(f.rows == rows, s"rows == $rows")
    val inv = rows / 21.0
    check(f.invoices > inv * 0.9 && f.invoices < inv * 1.1, "invoices within 10% of rows/21")
    check(f.nullShare > 0.2 && f.nullShare < 0.3, "null CustomerID share in (0.2, 0.3)")
    check(f.cancelShare > 0.01 && f.cancelShare < 0.03, "cancellation share in (0.01, 0.03)")
    check(f.splitInvoices >= 18 && f.splitInvoices <= 72, "a few dozen split-timestamp invoices")
    val mb = f.bytes / 1e6 * RetailRows / rows
    check(mb > 32 && mb < 40, "~36 MB per 541,909 rows")
    check(f.zeroPriceRows > 0 && f.nullDescriptionRows > 0, "some zero prices and null descriptions")
  }
}
