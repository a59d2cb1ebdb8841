package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_CPUS is validated before any session starts: a bad value
  * fails with a message naming the variable and the accepted values, not
  * inside Spark's master-URL parsing or as a zero/negative partition count. */
class SessionSpec extends AnyFunSuite {

  private def rejected(value: String): String =
    intercept[IllegalArgumentException](Session.cpus(Some(value))).getMessage

  test("unset means 4; a positive integer is taken as is") {
    assert(Session.cpus(None) == 4)
    for (n <- Seq(1, 4, 32)) assert(Session.cpus(Some(n.toString)) == n)
  }

  test("zero, negative and non-numeric values fail naming the variable") {
    for (v <- Seq("abc", "0", "-2", "", "4.5", "8x")) {
      val msg = rejected(v)
      assert(msg.contains(s"SPARK_GRAFT_CPUS=$v:"), msg)
      assert(msg.contains("positive integer"), msg)
    }
  }
}
