package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** One Spark job as the listener saw it, tagged with the span that
  * submitted it and the call site Spark recorded for it. */
final class JobRec(val span: String, val callSite: String, val module: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  var inputBytes = 0L
}

/** Spark-side totals of every job submitted under one span (and the
  * spans nested in it). */
final case class SparkTotals(
    jobs: Int, stages: Int, tasks: Int, cpuS: Double, runS: Double, gcS: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inputRows: Long,
    inputBytes: Long, jobWallS: Double, taskRunByModule: Map[String, Double])

/** Tracing from outside the program: spans are opened by the benchmark
  * around its calls into the program's modules, and a SparkListener
  * attaches each job's task metrics to the span whose thread submitted
  * it (the span id rides a Spark local property, which Spark copies to
  * the threads that run a SQL execution). */
final class Trace(spark: SparkSession) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  // SQL execution id -> (short, long) call site of the action behind it
  private val executions = new ConcurrentHashMap[String, (String, String)]()

  spark.sparkContext.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(s.executionId.toString, (s.description, s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.SpanKey).getOrElse("")
    // jobs of a SQL execution (adaptive stages run on pool threads) take
    // the call site of the action that started the execution
    val (site, stack) = prop("spark.sql.execution.id").flatMap(id => Option(executions.get(id)))
      .getOrElse(if (e.stageInfos.isEmpty) ("", "")
        else { val st = e.stageInfos.maxBy(_.stageId); (st.name, st.details) })
    val rec = new JobRec(span, site, Trace.moduleOfStack(stack), e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(id => stageJob.putIfAbsent(id, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) r.synchronized {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inputRows += m.inputMetrics.recordsRead
      r.inputBytes += m.inputMetrics.bytesRead
    }

  /** Run `f` as span `name`; returns its result and the span id. */
  def span[T](name: String)(f: => T): (T, String) = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Trace.SpanKey)
    val id = (if (outer == null) "" else outer + "/") + name + "#" + seq.incrementAndGet()
    sc.setLocalProperty(Trace.SpanKey, id)
    try (f, id) finally sc.setLocalProperty(Trace.SpanKey, outer)
  }

  /** Totals of the jobs submitted under span `id` or any span inside it. */
  def totals(id: String): SparkTotals = {
    PerfbenchBus.drain(spark.sparkContext)
    val mine = jobs.values.asScala.filter(j => j.span == id || j.span.startsWith(id + "/")).toSeq
    val byModule = mine.groupBy(_.module)
      .map { case (m, js) => m -> js.map(_.runMs).sum / 1e3 }
    SparkTotals(
      mine.size, mine.map(_.stages).sum, mine.map(_.tasks).sum,
      mine.map(_.cpuNs).sum / 1e9, mine.map(_.runMs).sum / 1e3, mine.map(_.gcMs).sum / 1e3,
      mine.map(_.shuffleWrite).sum, mine.map(_.shuffleRead).sum, mine.map(_.spill).sum,
      mine.map(_.inputRows).sum, mine.map(_.inputBytes).sum,
      Trace.unionS(mine.map(j => (j.startMs, math.max(j.endMs, j.startMs)))), byModule)
  }

  /** Wall seconds of jobs under span `id` whose call site lies in one of
    * `files` (e.g. the store writes inside `Txn.commit`). */
  def jobWallIn(id: String, files: Set[String]): Double = {
    PerfbenchBus.drain(spark.sparkContext)
    Trace.unionS(jobs.values.asScala
      .filter(j => (j.span == id || j.span.startsWith(id + "/")) &&
        files.contains(Trace.fileOf(j.callSite)))
      .map(j => (j.startMs, math.max(j.endMs, j.startMs))).toSeq)
  }

  /** Jobs tagged exactly `span` that started within `[fromMs, toMs]`. */
  def jobsIn(span: String, fromMs: Long, toMs: Long): Int = {
    PerfbenchBus.drain(spark.sparkContext)
    jobs.values.asScala.count(j => j.span == span && j.startMs >= fromMs && j.startMs <= toMs)
  }

  /** The call sites that used the most task time, for the record. */
  def topCallSites(n: Int): String = {
    PerfbenchBus.drain(spark.sparkContext)
    jobs.values.asScala.toSeq.groupBy(_.callSite).toSeq
      .map { case (site, js) => (site, js.size, js.map(_.runMs).sum / 1e3) }
      .sortBy(-_._3).take(n)
      .map { case (site, k, s) => s"$site x$k ${s}s" }.mkString("; ")
  }

  /** Task seconds per module over the whole run, for the record. */
  def moduleTotals: String = {
    PerfbenchBus.drain(spark.sparkContext)
    jobs.values.asScala.toSeq.groupBy(_.module).toSeq.sortBy(_._1)
      .map { case (m, js) => s"$m ${js.map(_.runMs).sum / 1e3}s" }.mkString("; ")
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** `"collect at BlockStore.scala:270"` -> `"BlockStore.scala"`. */
  def fileOf(callSite: String): String =
    callSite.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")

  private val modules: Seq[(String, String)] = Seq(
    "graft.storage." -> "storage", "graft.ingest." -> "ingest",
    "graft.matchers." -> "matchers", "graft.query.Postings" -> "matchers",
    "graft.query.LabelDictionary" -> "matchers", "graft.query." -> "query",
    "graft.catalyst." -> "catalyst", "graft.http." -> "http")

  /** The graft module of the innermost graft frame in a long-form call
    * site (one stack frame per line), or `other` when the action came
    * from outside the program's modules (the benchmark's own calls). */
  def moduleOfStack(stack: String): String =
    stack.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case f if f.startsWith("graft.") && modules.exists(m => f.startsWith(m._1)) =>
        modules.find(m => f.startsWith(m._1)).get._2
    }.getOrElse("other")

  /** Seconds covered by the union of `[start, end]` ms intervals. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Plan shape: (nodes, exchanges, scans, broadcasts) of the physical
    * plan, looking through adaptive wrappers and into subqueries. */
  def planShape(df: DataFrame): (Int, Int, Int, Int) = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.initialPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      val u = unwrap(p)
      seen += u
      u.children.foreach(walk)
      u.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (seen.size,
      seen.count(_.isInstanceOf[ShuffleExchangeLike]),
      seen.count(_.nodeName.contains("Scan")),
      seen.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  /** Catalyst phase times (s) recorded on a DataFrame's query execution. */
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
}
