package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: wall-clock nanoseconds on the JVM's epoch-aligned clock. */
final case class Span(id: Long, parent: Long, name: String, req: Long, t0: Long, t1: Long)

/** Span recorder. Off: `span` only runs its body. On: every span is
  * kept in memory and tags the Spark jobs its thread launches with
  * `pb<id>`, so [[SparkCounters]] can attribute jobs, stages, tasks and
  * planning to the innermost open span.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  // System.nanoTime aligned to the epoch, so spans and listener event
  // times (epoch milliseconds) share one clock
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  /** Root span of one request; `req` ties its spans together. */
  def request[T](name: String, req: Long)(body: => T): T = enter(name, req)(body)

  def span[T](name: String)(body: => T): T =
    if (!on) body else enter(name, open.get.headOption.map(_._2).getOrElse(-1L))(body)

  private def enter[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get
      val id = ids.incrementAndGet()
      stack.headOption.foreach(p => sc.removeJobTag(s"pb${p._1}"))
      sc.addJobTag(s"pb$id")
      open.set((id, req) :: stack)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        done.add(Span(id, stack.headOption.map(_._1).getOrElse(0L), name, req, t0, t1))
        sc.removeJobTag(s"pb$id")
        stack.headOption.foreach(p => sc.addJobTag(s"pb${p._1}"))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Spark listener + query-execution listener summing counters per span
  * id (0 = launched outside any span). Keys are the per-layer metric
  * names without the `spark.` prefix.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val counts = new ConcurrentHashMap[(Long, String), Double]()
  /** (span, job start ms, job end ms) */
  val jobs = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var storagePeak: Long = 0L
  private var storageNow = 0L

  private def add(span: Long, key: String, v: Double): Unit =
    if (v != 0) counts.merge((span, key), v, (a: Double, b: Double) => a + b)

  private def spanOfTags(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith("pb") => t.drop(2).toLong }.getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val span = spanOfTags(tags)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    add(span, "sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = jobSpan.getOrDefault(e.jobId, 0L)
    jobs.add((span, jobStart.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    add(span, "sched.stages", 1)
    if (e.stageInfo.numTasks == 1) add(span, "sched.one_task_stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    add(span, "sched.tasks", 1)
    if (!e.taskInfo.successful) add(span, "exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(span, "exec.run_ms", m.executorRunTime.toDouble)
      add(span, "exec.cpu_ms", m.executorCpuTime / 1e6)
      add(span, "exec.gc_ms", m.jvmGCTime.toDouble)
      add(span, "sched.delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      add(span, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(span, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
      add(span, "spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      add(span, "io.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(span, "io.input_rows", m.inputMetrics.recordsRead.toDouble)
      add(span, "io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = info.memSize + info.diskSize
    val key = info.blockId.name
    val before = Option(blocks.get(key)).getOrElse(0L)
    if (bytes == 0) blocks.remove(key) else blocks.put(key, bytes)
    storageNow += bytes - before
    if (storageNow > storagePeak) storagePeak = storageNow
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSpan.put(s.executionId, spanOfTags(s.jobTags))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val span = execSpan.getOrDefault(qe.id, 0L)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(span, s"plan.${p}_ms", s.durationMs.toDouble))
    }
    add(span, "plan.exchanges", SparkCounters.exchanges(qe.executedPlan).toDouble)
    add(span, "io.files_written", SparkCounters.metric(qe.executedPlan, "numFiles"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkCounters {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec        => Seq(q.plan)
    case other                    => other.children ++ other.subqueries
  }

  def exchanges(p: SparkPlan): Int =
    (if (p.isInstanceOf[Exchange]) 1 else 0) + children(p).map(exchanges).sum

  def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0) +
      children(p).map(metric(_, name)).sum

  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
