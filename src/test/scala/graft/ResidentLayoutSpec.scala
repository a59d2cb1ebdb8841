package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_RESIDENT_LAYOUT is validated before any table loads: a bad
  * value fails with a message naming the variable and the accepted values,
  * not with an arithmetic or parse error from inside the partition sizing. */
class ResidentLayoutSpec extends AnyFunSuite {

  private def rejected(value: String): String =
    intercept[IllegalArgumentException](Tables.residentLayout(value))
      .getMessage

  test("accepts compute, spread, scan and divN with N > 0") {
    for (v <- Seq("compute", "spread", "scan", "div1", "div32"))
      assert(Tables.residentLayout(v) == v)
  }

  test("div0 fails naming the variable and the accepted values") {
    val msg = rejected("div0")
    assert(msg.contains("SPARK_GRAFT_RESIDENT_LAYOUT=div0"), msg)
    assert(msg.contains("compute, spread, scan or divN"), msg)
    assert(rejected("div-4").contains("SPARK_GRAFT_RESIDENT_LAYOUT"))
  }

  test("a non-number divN suffix or an unknown policy fails the same way") {
    for (v <- Seq("divide", "div", "div3x", "spreadd")) {
      val msg = rejected(v)
      assert(msg.contains(s"SPARK_GRAFT_RESIDENT_LAYOUT=$v"), msg)
      assert(msg.contains("positive integer"), msg)
    }
  }
}
