package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The retail generator is deterministic: the same seed gives the same
  * bytes, and the file has the source file's shape. */
class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")
  private def sha(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  test("retail CSV: same seed, same bytes; another seed, other bytes") {
    val d = tmp()
    val a = Gen.retailCsv(7, d.resolve("a.csv").toString, rows = 50000)
    val b = Gen.retailCsv(7, d.resolve("b.csv").toString, rows = 50000)
    val c = Gen.retailCsv(8, d.resolve("c.csv").toString, rows = 50000)
    assert(a == b)
    assert(sha(d.resolve("a.csv")) == sha(d.resolve("b.csv")))
    assert(sha(d.resolve("a.csv")) != sha(d.resolve("c.csv")))
  }

  test("retail CSV at full size has the source file's shape facts") {
    val d = tmp()
    Seq(1L, 42L).foreach { seed =>
      val f = Gen.retailCsv(seed, d.resolve(s"$seed.csv").toString)
      Gen.assertRetailShape(f, Gen.RetailRows)
    }
  }

  test("retail CSV is ISO-8859-1 with a header and eight columns") {
    val d = tmp()
    val p = d.resolve("r.csv")
    Gen.retailCsv(3, p.toString, rows = 20000)
    val bytes = Files.readAllBytes(p)
    val text = new String(bytes, "ISO-8859-1")
    val lines = text.split("\n")
    assert(lines.head == "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country")
    assert(lines.length == 20001)
    // Latin-1 letters are single bytes, never UTF-8 pairs
    assert(bytes.exists(b => (b & 0xff) >= 0xc0) && !text.contains("Ã"))
  }
}
