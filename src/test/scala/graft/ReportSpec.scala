package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

/** The mains' hand-built JSON lines stay parseable on hostile strings
  * and degenerate inputs.
  */
class ReportSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("Json.str round-trips quotes, backslashes and control chars through a JSON parser") {
    for (s <- Seq("plain", "a\"b", "c:\\dir\\", "tab\there", "ctl\u0001x",
        "nl\ncr\r", "")) {
      val node = mapper.readTree(s"""{"k":${Json.str(s)}}""").get("k")
      assert(node.isTextual && node.asText === s, s"round-trip of ${s.toList}")
    }
  }

  test("Checks on an empty input: null aggregates read as NaN and the check fails as JSON null") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val row = empty.agg(sum(col("v")), avg(col("v")), max(col("id"))).head()
    assert((0 until 3).forall(i => Checks.dbl(row, i).isNaN))
    assert(Checks.dbl(Seq((1L, 2.5)).toDF("id", "v")
      .agg(sum(col("v")), max(col("id"))).head(), 1) === 1.0)
    for (v <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity);
         cmp <- Seq("<=", ">=")) {
      val c = Checks.Check("q", "m", v, 0.5, cmp)
      assert(!c.pass)
      val node = mapper.readTree(c.json)
      assert(node.get("value").isNull && !node.get("pass").asBoolean())
    }
    val ok = mapper.readTree(Checks.Check("q", "m", 0.25, 0.5, "<=").json)
    assert(ok.get("value").asDouble === 0.25 && ok.get("pass").asBoolean())
  }
}
