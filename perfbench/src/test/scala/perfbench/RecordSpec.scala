package perfbench

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class RecordSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** Run `f` with a comma-decimal default locale. */
  private def underGerman[T](f: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try f finally Locale.setDefault(saved)
  }

  test("the record round-trips under a comma-decimal default locale") {
    val rec = Record(correct = false, attempted = 12, failed = 1, metrics = Seq(
      "op_p50_s" -> Metric(1.2034, "s"),
      "samples_per_s" -> Metric(12345.678901, "samples/s"),
      "setup_s" -> Metric(0.000123, "s")))
    val text = underGerman(rec.toJson)
    assert(!text.contains("1,2034"))
    val node = mapper.readTree(text)
    assert(!node.get("correct").asBoolean())
    assert(node.get("attempted").asLong() == 12 && node.get("failed").asLong() == 1)
    assert(node.get("metrics").get("op_p50_s").get("value").asDouble() == 1.2034)
    assert(node.get("metrics").get("samples_per_s").get("value").asDouble() == 12345.678901)
    assert(node.get("metrics").get("setup_s").get("value").asDouble() == 0.000123)
    assert(node.get("metrics").get("samples_per_s").get("unit").asText() == "samples/s")
    // the keys, in the order the contract lists them
    assert(node.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
  }

  test("a status string carrying braces, quotes and control characters survives") {
    val status = """error: {"code":500} at PromQl.eval}} \ "quoted"""" + "\n\ttab\u0001"
    val text = underGerman(Json.obj(Seq(
      "checks" -> Json.arr(Seq(Json.obj(Seq("name" -> Json.str("c1"), "detail" -> Json.str(status))))),
      "after" -> Json.num(2.5))))
    val node = mapper.readTree(text)
    assert(node.get("checks").get(0).get("detail").asText() == status)
    // nothing after the status is lost
    assert(node.get("after").asDouble() == 2.5)
  }

  test("numbers print with all their digits and no locale") {
    underGerman {
      assert(Json.num(0.1 + 0.2) == "0.30000000000000004")
      assert(Json.num(3.0) == "3")
      assert(Json.num(-1.5e-7) == "-1.5E-7")
      assert(Json.num(Double.NaN) == "null")
      assert(mapper.readTree(Json.num(-1.5e-7)).asDouble() == -1.5e-7)
    }
  }

  test("a record must attempt something") {
    intercept[IllegalArgumentException](Record(correct = true, attempted = 0, failed = 0, Nil))
  }

}
