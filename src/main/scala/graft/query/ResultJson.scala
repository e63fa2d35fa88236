package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String

/** Renders a [[PromQl.eval]] result frame as the Prometheus HTTP API's
  * `data` payload (`{"resultType":"vector"|"matrix","result":[...]}`) —
  * the shape dashboards and API clients consume, so the CLI/app layer
  * never reshapes the long frame by hand. An instant query renders as a
  * `vector` (one `value` per series), a range query as a `matrix`
  * (`values` arrays). Values are strings in the API convention, with
  * Go-style shortest formatting (`100`, not `100.0`) and `NaN`/`+Inf`/
  * `-Inf` spelled out; timestamps are epoch seconds with millisecond
  * decimals only when needed.
  *
  * The render iterates the frame on the driver — result frames are
  * lattice-sized (series × instants of the requested window), the same
  * driver-bounded scale every API server returns as one response body.
  */
object ResultJson {

  private[graft] def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Go `strconv.FormatFloat(v, 'f', -1, 64)` value text: shortest
    * round-trip decimal digits, always FIXED notation — no scientific
    * form (`0.0000001`, not `1.0E-7`; `1e21` spelled out). Java's
    * `Double.toString` supplies the shortest digits; `BigDecimal`
    * re-renders them plain. */
  private[query] def fmtV(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v == Double.PositiveInfinity) "+Inf"
    else if (v == Double.NegativeInfinity) "-Inf"
    else if (v == 0.0) (if (1 / v < 0) "-0" else "0")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else new java.math.BigDecimal(java.lang.Double.toString(v))
      .stripTrailingZeros.toPlainString

  /** Epoch seconds, fixed notation, millisecond decimals only when
    * needed (`1700006400.5`, not `Double.toString`'s `1.7000064005E9`). */
  private[query] def fmtT(ms: Long): String =
    java.math.BigDecimal.valueOf(ms, 3).stripTrailingZeros.toPlainString

  /** One label map as the API's sorted `{"k":"v",…}` object. */
  private[graft] def labelsJson(labels: scala.collection.Map[String, String]): String =
    labels.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  /** One native histogram struct (PromQl.HistType row) as the API's
    * histogram object: `{"count":…,"sum":…,"buckets":[[br,l,u,c],…]}`
    * with buckets in VALUE order and the Prometheus boundary-rule codes
    * (0 = open left — positive buckets; 1 = open right — negative
    * buckets; 3 = closed both — the zero bucket, emitted only when
    * populated; its lower bound collapses to 0 without negative mass). */
  private[graft] def histJson(h: org.apache.spark.sql.Row): String = {
    val schema = h.getAs[Int]("schema")
    val zt = h.getAs[Double]("zt")
    val z = h.getAs[Double]("z_count")
    val count = h.getAs[Double]("count")
    val sum = h.getAs[Double]("sum")
    def side(n: String): Seq[(Int, Double)] =
      Option(h.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](n))
        .getOrElse(Nil).toSeq
        .map(b => (b.getAs[Int]("i"), b.getAs[Double]("c")))
    // StrictMath: Spark's `pow` expression is StrictMath-valued and
    // Math.pow's intrinsic rounds differently (1 ulp at 2^−3.5) — the
    // rendered bounds must equal the engine's own bucket bounds
    val w = StrictMath.pow(2.0, -schema)
    def up(i: Int) = StrictMath.pow(2.0, i * w)
    val neg = side("neg").sortBy(-_._1).map { case (i, c) =>
      s"""[1,"${fmtV(-up(i))}","${fmtV(-up(i - 1))}","${fmtV(c)}"]"""
    }
    val negMass = side("neg").nonEmpty
    val zero =
      if (z > 0)
        Seq(s"""[3,"${fmtV(if (negMass) -zt else 0.0)}","${fmtV(zt)}","${fmtV(z)}"]""")
      else Nil
    val pos = side("pos").map { case (i, c) =>
      s"""[0,"${fmtV(up(i - 1))}","${fmtV(up(i))}","${fmtV(c)}"]"""
    }
    s"""{"count":"${fmtV(count)}","sum":"${fmtV(sum)}",""" +
      s""""buckets":[${(neg ++ zero ++ pos).mkString(",")}]}"""
  }

  /** Render `frame` (`series_key, labels, t, v[, h]`) as the API
    * payload. `instant = true` emits the `vector` shape from each
    * series' single (latest) point; otherwise the full `matrix`. A row
    * whose `h` channel is set renders in the Prometheus histogram
    * envelope (`"histogram"` / `"histograms"`) instead of the float
    * `"value"`/`"values"` — a mixed series emits both arrays.
    *
    * The frame's rows may arrive in any order: they group per series
    * here, series emit in Spark's string order of `series_key`
    * (unsigned UTF-8 bytes, which `String.compareTo`'s UTF-16 order is
    * not above U+FFFF) and each series' points by ascending `t`. */
  def render(frame: DataFrame, instant: Boolean): String = {
    val hasH = frame.columns.contains("h")
    val cols = Seq("series_key", "labels", "t", "v") ++
      (if (hasH) Seq("h") else Nil)
    val it = frame.select(cols.head, cols.tail: _*).toLocalIterator()
    val labelsOf = scala.collection.mutable.HashMap.empty[String, String]
    val pointsOf = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    val histsOf = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, String)]]
    while (it.hasNext) {
      val r = it.next()
      val key = r.getString(0)
      if (!labelsOf.contains(key)) {
        labelsOf(key) = labelsJson(r.getMap[String, String](1))
        pointsOf(key) = scala.collection.mutable.ArrayBuffer.empty
        histsOf(key) = scala.collection.mutable.ArrayBuffer.empty
      }
      if (hasH && !r.isNullAt(4))
        histsOf(key) += ((r.getLong(2), histJson(r.getStruct(4))))
      else if (!r.isNullAt(3))
        pointsOf(key) += ((r.getLong(2), r.getDouble(3)))
    }
    val keys = labelsOf.keys.toVector.map(UTF8String.fromString)
      .sortWith(_.binaryCompare(_) < 0).map(_.toString)
    val items = keys.map { key =>
      val metric = labelsOf(key)
      val pts = pointsOf(key).sortBy(_._1)
      val hs = histsOf(key).sortBy(_._1)
      if (instant) {
        // the single (latest) point — a histogram beats an older float
        val useHist = hs.nonEmpty && (pts.isEmpty || hs.last._1 >= pts.last._1)
        if (useHist) {
          val (t, hj) = hs.last
          s"""{"metric":$metric,"histogram":[${fmtT(t)},$hj]}"""
        } else {
          val (t, v) = pts.last
          s"""{"metric":$metric,"value":[${fmtT(t)},"${fmtV(v)}"]}"""
        }
      } else {
        val parts = Seq.newBuilder[String]
        if (pts.nonEmpty)
          parts += s""""values":[${pts.map { case (t, v) =>
            s"""[${fmtT(t)},"${fmtV(v)}"]""" }.mkString(",")}]"""
        if (hs.nonEmpty)
          parts += s""""histograms":[${hs.map { case (t, hj) =>
            s"""[${fmtT(t)},$hj]""" }.mkString(",")}]"""
        s"""{"metric":$metric,${parts.result().mkString(",")}}"""
      }
    }
    val rt = if (instant) "vector" else "matrix"
    s"""{"resultType":"$rt","result":[${items.mkString(",")}]}"""
  }
}
