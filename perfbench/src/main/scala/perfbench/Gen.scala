package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Db

/** Input generation shared by the workloads. Every input is a function
  * of the workload seed; the program only ever sees the frames built
  * here. */
object Gen {
  val Schema: StructType = StructType(Seq(
    StructField("series_key", StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("t", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false),
    StructField("arrival", LongType, nullable = false)))

  /** One generated series: its label set, canonical key and the closed
    * form of its samples. */
  final case class Series(labels: Map[String, String], base: Double, slope: Double) {
    val key: String = graft.model.Labels.fromMap(labels).canonical
    /** A counter rising at `slope` per second from `base` at `t0Ms`. */
    def at(t0Ms: Long, tMs: Long): Double = base + slope * (tMs - t0Ms) / 1000.0
  }

  def row(s: Series, t: Long, v: Double, arrival: Long): Row =
    Row(s.key, s.labels, t, v, arrival)

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schema)

  def rng(seed: Long, salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** Per-series sample counts of a store as a freshly opened handle
    * reads them over `[mint, maxt]`. */
  def seriesCounts(spark: SparkSession, root: String, opts: Db.Options,
      mint: Long, maxt: Long): Map[String, Long] =
    Db.open(spark, root, opts).query(mint, maxt)
      .groupBy("series_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Compare a store's per-series counts with the model's; returns a
    * mismatch description, or "" when they agree. */
  def diffCounts(got: Map[String, Long], want: Map[String, Long]): String = {
    val keys = (got.keySet ++ want.keySet).filter(k =>
      got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
    if (keys.isEmpty) ""
    else s"${keys.size} series differ, e.g. " + keys.take(3).map(k =>
      s"$k store=${got.getOrElse(k, 0L)} model=${want.getOrElse(k, 0L)}").mkString("; ")
  }

  /** Bytes under a directory tree and its regular file count. */
  def du(dir: String): (Long, Int) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
        (files.map(java.nio.file.Files.size).sum, files.size)
      } finally s.close()
    }
  }
}
