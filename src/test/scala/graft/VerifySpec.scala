package graft

import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is what the DuckDB compare reads: every oracle must
  * come back from it intact. */
class VerifySpec extends AnyFunSuite {
  test("oracleJson round-trips the oracle map, control characters included") {
    val sql = SparkEntry.oracleSql + ("q_ctrl" -> "SELECT 1\t,\r\n'\u0001' AS \"x\\y\"")
    val json = Verify.oracleJson(sql)
    assert(!json.exists(_ < ' '), "a raw control character breaks a strict JSON reader")
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    assert(org.json4s.jackson.JsonMethods.parse(json).extract[Map[String, String]] == sql)
  }
}
