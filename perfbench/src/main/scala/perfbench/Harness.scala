package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation, on the thread (client) that ran it. */
final case class Op(kind: String, thread: String, startNs: Long, seconds: Double,
    ok: Boolean, samples: Long, note: String)

/** What a client call reports back: did its answer check out, how many
  * samples it accepted or returned, and a note for the record. */
final case class Outcome(ok: Boolean, samples: Long = 0L, note: String = "")

/** Run-wide state shared by the workload and its clients. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val work: String,
    val trace: Option[Trace]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val opsBuf = mutable.ArrayBuffer.empty[Op]
  private val checksBuf = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val layerBuf = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val countBuf = mutable.LinkedHashMap.empty[String, Double]
  /** Named facts about the run (store sizes, the workload's own metric
    * names) for the detail record. */
  val facts: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty

  def ops: Seq[Op] = synchronized(opsBuf.toList)
  def checks: Seq[(String, Boolean, String)] = synchronized(checksBuf.toList)

  /** Time one client call; an exception or a failed check is a failed op. */
  def timed(kind: String)(f: => Outcome): Op = {
    val t0 = System.nanoTime()
    val out =
      try f
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        Outcome(ok = false, note = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val op = Op(kind, Thread.currentThread.getName, t0, (System.nanoTime() - t0) / 1e9,
      out.ok, out.samples, out.note)
    synchronized(opsBuf += op)
    op
  }

  /** A correctness check outside the timed loop (set-up, durability). */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    synchronized(checksBuf += ((name, ok, if (ok) "" else detail.take(300))))
    ok
  }

  /** Run a set-up phase and note its seconds among the facts. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally facts(name) = ((System.nanoTime() - t0) / 1e9).toString
  }

  /** Layer samples count only from the start of the measured loop, so
    * the warm-up's cold operations stay out of them. */
  @volatile var recording = false

  /** A per-operation layer sample (reported as a median). */
  def layer(name: String, v: Double): Unit =
    if (recording) synchronized(layerBuf.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v)

  /** A layer count (reported as a run total). */
  def count(name: String, v: Double): Unit =
    if (recording) synchronized(countBuf(name) = countBuf.getOrElse(name, 0.0) + v)

  def layerMedians: Map[String, Double] =
    synchronized(layerBuf.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap)
  def counts: Map[String, Double] = synchronized(countBuf.toMap)

  /** Record the Spark-side cost of one traced operation. */
  def sparkLayers(spanId: String, wallS: Double): SparkTotals = {
    val t = trace.get.totals(spanId)
    layer("spark.jobs_per_op", t.jobs)
    layer("spark.stages_per_op", t.stages)
    layer("spark.tasks_per_op", t.tasks)
    layer("spark.task_cpu_s_per_op", t.cpuS)
    layer("spark.task_run_s_per_op", t.runS)
    layer("spark.gc_s_per_op", t.gcS)
    layer("spark.shuffle_write_bytes_per_op", t.shuffleWrite)
    layer("spark.shuffle_read_bytes_per_op", t.shuffleRead)
    layer("spark.spill_bytes_per_op", t.spill)
    layer("spark.input_rows_per_op", t.inputRows)
    layer("spark.input_bytes_per_op", t.inputBytes)
    layer("spark.driver_s_per_op", math.max(0.0, wallS - t.jobWallS))
    layer("spark.core_busy_share", if (wallS > 0) t.runS / (wallS * cores) else 0.0)
    for (m <- Seq("storage", "ingest", "query", "matchers", "catalyst", "http"))
      layer(s"callsite.${m}_task_s", t.taskRunByModule.getOrElse(m, 0.0))
    t
  }
}

/** A workload: builds its store, then runs closed-loop clients. */
trait Workload {
  def name: String
  def clients: Int
  /** Build the inputs and the store, then warm up (untimed). */
  def setup(ctx: Ctx): Unit
  /** Rounds the clients run even past the measured seconds, so that
    * every run has each kind of operation of the mix, also on a slow host. */
  def minRounds: Int = 0
  /** One client's next operation. */
  def step(ctx: Ctx, client: Int, i: Int): Op
  /** End-of-run checks (durability on a freshly opened store). */
  def finish(ctx: Ctx): Unit
  /** Live block bytes and live samples at run end. */
  def stored: (Long, Long)
  /** Each op kind's share of the operations the clients issue. */
  def mix: Map[String, Double]
  /** The op kinds whose latencies make `op_p50_s` and `op_tail_s`. */
  def mainKinds: Set[String]
  /** The op kinds whose latencies make `side_op_p50_s`. */
  def sideKinds: Set[String]
  /** The workload's own end-to-end metric names for the generic ones. */
  def names: Map[String, String]
}
