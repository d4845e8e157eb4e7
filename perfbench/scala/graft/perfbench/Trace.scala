package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a graft layer, as the benchmark saw it. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startNs: Long, endNs: Long)

object Trace {
  /** Task totals of the jobs under one tag. */
  final class TaskStats {
    var jobs = 0L; var tasks = 0L; var runNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  /** One Dataset action, as the QueryExecutionListener reported it. */
  final case class Action(func: String, durationNs: Long,
                          planningMs: Long, columns: Seq[String],
                          scanRows: Long, cacheScanRows: Long, outRows: Long,
                          leaves: Seq[String])
}

/** Spans and per-tag Spark statistics of one run.
  *
  * The benchmark only ever records around its own calls into graft's
  * public functions: a span per call, plus a [[SparkListener]] and a
  * [[QueryExecutionListener]] it registers itself. Jobs are attributed to a
  * tag through the `graftbench.tag` local property the calling thread sets;
  * jobs run by graft's own threads (the HTTP handler, the streaming query)
  * carry no tag and are attributed by their call site instead. Actions
  * are told apart afterwards by their output columns.
  *
  * When tracing is off every method is a no-op except [[span]], which then
  * only runs its body: end-to-end numbers come from untraced runs.
  */
final class Trace(val enabled: Boolean) {
  import Trace.{Action, TaskStats}
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[A](name: String, req: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val taskStats = new java.util.concurrent.ConcurrentHashMap[String, TaskStats]()
  val actions = new ConcurrentLinkedQueue[Action]()

  /** The benchmark thread's tag, else a tag from the job's call site (the
    * first stage's name, e.g. `count at SessionCache.scala:47`). */
  private def tagOf(e: SparkListenerJobStart): String = {
    val props = Option(e.properties)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    if (site.contains("SessionCache")) "rebuild" // a cache miss inside a search
    else props.flatMap(p => Option(p.getProperty("graftbench.tag"))).getOrElse {
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) "ingest"
      else s"other:$site"
    }
  }

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e)
      e.stageIds.foreach(s => stageTag.put(s, tag))
      val st = taskStats.computeIfAbsent(tag, _ => new TaskStats)
      st.synchronized { st.jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val st = taskStats.computeIfAbsent(stageTag.getOrDefault(e.stageId, "other"), _ => new TaskStats)
        st.synchronized {
          st.tasks += 1
          st.runNs += m.executorRunTime * 1000000L
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object queries extends QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      var scan = 0L; var cache = 0L; var out = 0L
      val leaves = scala.collection.mutable.LinkedHashSet.empty[String]
      PlanMetrics.foreachNode(qe.executedPlan) { p =>
        val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        if (p.children.isEmpty) leaves += p.nodeName
        p.nodeName match {
          case n if n.startsWith("Scan parquet") || n == "FileSourceScanExec" => scan += rows
          case n if n.startsWith("Scan In-memory") || n == "InMemoryTableScan" => cache += rows
          case _ => ()
        }
      }
      out = PlanMetrics.rootRows(qe.executedPlan)
      actions.add(Action(func, durationNs, planning,
        qe.analyzed.output.map(_.name), scan, cache, out, leaves.toSeq))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  /** Tag every Spark job this thread starts inside `body`. */
  def tagged[A](spark: SparkSession, tag: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("graftbench.tag")
      sc.setLocalProperty("graftbench.tag", tag)
      try body finally sc.setLocalProperty("graftbench.tag", prev)
    }

  /** Listener events are delivered asynchronously: wait until the counts
    * stop moving before reading them. */
  def settle(): Unit = if (enabled) {
    var last = -1L
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val n = taskStats.values.asScala.map(_.tasks).sum + actions.size
      if (n == last) stable += 1 else stable = 0
      last = n
    }
  }
}

/** Walks a physical plan, descending into adaptive query stages. */
object PlanMetrics {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def foreachNode(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => foreachNode(a.executedPlan)(f)
    case s: QueryStageExec => foreachNode(s.plan)(f)
    case other =>
      f(other)
      other.children.foreach(foreachNode(_)(f))
      other.subqueries.foreach(foreachNode(_)(f))
  }

  def rootRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rootRows(a.executedPlan)
    case s: QueryStageExec => rootRows(s.plan)
    case other => other.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
  }
}
