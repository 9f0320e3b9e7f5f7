package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(
    Row(1L, "a", 0.5, Array[Byte](1, 2)),
    Row(2L, null, -0.0, Array[Byte](3)),
    Row(3L, "c", 1e-9, null))

  test("the fingerprint does not depend on row order") {
    val want = Fingerprint.of(rows)
    for (perm <- rows.permutations) assert(Fingerprint.of(perm) == want)
  }

  test("the fingerprint depends on the multiset of rows") {
    assert(Fingerprint.of(rows) != Fingerprint.of(rows.take(2)))
    assert(Fingerprint.of(rows) != Fingerprint.of(rows :+ rows.head))
    assert(Fingerprint.of(Seq(Row("a,b"))) != Fingerprint.of(Seq(Row("a", "b"))))
  }

  test("binary, nested and map values render by content") {
    assert(Fingerprint.render(Array[Byte](10, -1)) == "0x0aff")
    assert(Fingerprint.render(Array[Byte](10, -1)) == Fingerprint.render(Array[Byte](10, -1)))
    assert(Fingerprint.render(Map("b" -> 2, "a" -> 1)) == Fingerprint.render(Map("a" -> 1, "b" -> 2)))
    assert(Fingerprint.render(Row(Seq(1, 2), Row(null))) == "([1,2],(∅))")
    assert(Fingerprint.render(BigDecimal("1.50")) == "1.50")
  }
}
