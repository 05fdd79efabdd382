package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level resource totals of one label (a job group). */
final class Usage {
  var cpuNs, gcMs, shuffleWriteBytes, spillBytes, tasks, jobs = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    tasks += 1
  }
}

/** Plan shape of one executed query, read from its final (adaptive) plan. */
final case class PlanCounts(exchanges: Int, nonCodegenNodes: Int) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(exchanges + o.exchanges, nonCodegenNodes + o.nonCodegenNodes)
}

object PlanCounts {
  val Zero: PlanCounts = PlanCounts(0, 0)

  /** Exchanges, and operators that run outside whole-stage codegen. Adaptive
    * wrappers, query stages, input adapters and exchange reuse are plumbing,
    * not operators, and are not counted. */
  def of(plan: SparkPlan): PlanCounts = {
    def walk(p: SparkPlan, inCodegen: Boolean): PlanCounts = {
      val here = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
        case q: QueryStageExec => walk(q.plan, inCodegen = false)
        case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
        case i: InputAdapter => walk(i.child, inCodegen = false)
        case _: ReusedExchangeExec => Zero
        case e: Exchange => PlanCounts(1, 0) + walk(e.child, inCodegen = false)
        case other =>
          other.children.map(walk(_, inCodegen)).foldLeft(
            PlanCounts(0, if (inCodegen || other.nodeName == "AQEShuffleRead") 0 else 1))(_ + _)
      }
      p.subqueries.map(walk(_, inCodegen = false)).foldLeft(here)(_ + _)
    }
    walk(plan, inCodegen = false)
  }
}

/**
 * The benchmark's observation of the engine through Spark's public hooks:
 * a SparkListener (task metrics per job group; SQL execution time per
 * calling engine method), a QueryExecutionListener (plan shape of labelled
 * executions), a StreamingQueryListener (micro-batch progress) and a log
 * appender counting janino compile failures. Work is labelled with job
 * groups by [[labelled]]; nothing is added inside the engine.
 */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val usageByGroup = TrieMap.empty[String, Usage]
  private val stageGroup = TrieMap.empty[Int, String]
  private val executions = TrieMap.empty[Long, (String, Long)] // engine method, start ms
  private val siteMs = TrieMap.empty[String, Long]
  private val plans = TrieMap.empty[String, PlanCounts]
  private val fallbacks = TrieMap.empty[String, Long]
  private val aliases = TrieMap.empty[String, String]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var current = "none"

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")

  /** The first engine frame of a SQL execution's call site, e.g.
    * `graft.sources.PartitionedStore$.appendIfAbsent`. */
  private def engineMethod(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")).map(_.takeWhile(_ != '(')).getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      e.stageIds.foreach(stageGroup.put(_, g))
      val u = usageByGroup.getOrElseUpdate(g, new Usage)
      u.synchronized(u.jobs += 1)
    }
    // root SQL executions only: a nested one runs inside its root's interval
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        executions.put(s.executionId, (engineMethod(s.details), s.time))
      case end: SparkListenerSQLExecutionEnd =>
        executions.remove(end.executionId).foreach { case (site, t0) =>
          siteMs.synchronized(siteMs.put(site, siteMs.getOrElse(site, 0L) + (end.time - t0)))
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val g = stageGroup.getOrElse(e.stageId, "none")
        usageByGroup.getOrElseUpdate(g, new Usage).add(e.taskMetrics)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (funcName.startsWith("gate:"))
        plans.put(funcName.stripPrefix("gate:"), PlanCounts.of(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (msg.toLowerCase(java.util.Locale.ROOT).contains("failed to compile")) {
        val k = current
        fallbacks.synchronized(fallbacks.put(k, fallbacks.getOrElse(k, 0L) + 1))
      }
    }
  }

  // The streaming listener is always on: freshness needs batch commit times.
  spark.streams.addListener(streamListener)
  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }

  /** Run `f` with its Spark jobs in job group `label`. */
  def labelled[T](label: String)(f: => T): T = {
    sc.setJobGroup(label, label)
    current = label
    try f finally { sc.clearJobGroup(); current = "none" }
  }

  /** Attribute a group id the engine chose (a streaming run id) to `label`. */
  def alias(groupId: String, label: String): Unit = aliases.put(groupId, label)

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Task totals of every job group attributed to `label`. */
  def usage(label: String): Usage = usageWhere(_ == label)

  /** Task totals of every job group whose label starts with `prefix`. */
  def usageWithPrefix(prefix: String): Usage = usageWhere(_.startsWith(prefix))

  private def usageWhere(p: String => Boolean): Usage = {
    val u = new Usage
    usageByGroup.foreach { case (g, v) =>
      if (p(aliases.getOrElse(g, g))) {
        u.cpuNs += v.cpuNs; u.gcMs += v.gcMs; u.shuffleWriteBytes += v.shuffleWriteBytes
        u.spillBytes += v.spillBytes; u.tasks += v.tasks; u.jobs += v.jobs
      }
    }
    u
  }

  /** Elapsed seconds of the root SQL executions whose call site's
    * first engine method satisfies `p`. */
  def siteSeconds(p: String => Boolean): Double =
    siteMs.collect { case (k, v) if p(k) => v }.sum / 1e3

  def plan(label: String): PlanCounts = plans.getOrElse(label, PlanCounts.Zero)
  def fallbackCount(label: String): Long = fallbacks.getOrElse(label, 0L)

  def close(): Unit = if (enabled) {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }

  def progressList: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}
