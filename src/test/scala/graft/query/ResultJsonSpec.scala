package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite

/** [[ResultJson.render]] on hand-built result frames: the payload's
  * order and number text, independent of how the frame was computed. */
class ResultJsonSpec extends SparkSuite {
  import spark.implicits._

  private def frame(rows: (String, Long, Double)*) =
    rows.toDF("lv", "t", "v").select(
      concat(lit("{k=\""), col("lv"), lit("\"}")).as("series_key"),
      map(lit("k"), col("lv")).as("labels"), col("t"), col("v"))

  private def item(lv: String, body: String) = s"""{"metric":{"k":"$lv"},$body}"""

  test("render orders series by series_key bytes and points by t, whatever the row order") {
    val rep = "\uFFFD"
    val emoji = "\uD83D\uDE00" // U+1F600
    // UTF-16 order puts the surrogate pair first; UTF-8 bytes, Spark's
    // string order, put U+FFFD first
    assert(emoji < rep)
    assert(UTF8String.fromString(rep).binaryCompare(UTF8String.fromString(emoji)) < 0)
    // rows in reverse series order, points out of t order
    val df = frame(
      (emoji, 2000L, 6.0), (emoji, 1000L, 5.0),
      (rep, 1000L, 3.0), (rep, 3000L, 4.0),
      ("a", 2000L, 2.0), ("a", 1000L, 1.0))
    assert(ResultJson.render(df, instant = false) ==
      Seq(
        item("a", """"values":[[1,"1"],[2,"2"]]"""),
        item(rep, """"values":[[1,"3"],[3,"4"]]"""),
        item(emoji, """"values":[[1,"5"],[2,"6"]]"""))
        .mkString("""{"resultType":"matrix","result":[""", ",", "]}"))
    assert(ResultJson.render(df, instant = true) ==
      Seq(
        item("a", """"value":[2,"2"]"""),
        item(rep, """"value":[3,"4"]"""),
        item(emoji, """"value":[2,"6"]"""))
        .mkString("""{"resultType":"vector","result":[""", ",", "]}"))
  }

  test("timestamps render as plain epoch seconds, decimals only when needed") {
    // 2023-11-15: Double.toString would print 1.7000064005E9
    val df = frame(("a", 1700006400500L, 2.0), ("a", 1700006400000L, 1.0))
    assert(ResultJson.render(df, instant = false) ==
      """{"resultType":"matrix","result":[""" +
      item("a", """"values":[[1700006400,"1"],[1700006400.5,"2"]]""") + "]}")
  }
}
