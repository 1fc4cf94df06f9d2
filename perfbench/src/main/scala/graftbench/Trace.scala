package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.BenchSql
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One span: a timed call into a graft layer. `parent` is the id of the
  * enclosing span (0 at the top of an op); spans of one op share `op`.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call. Spans are
  * kept until the run ends and written out with the rest of the result.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def withOp[T](op: Long)(f: => T): T = {
    currentOp.set(op)
    try f finally currentOp.set(-1L)
  }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, currentOp.get, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Engine, plan and stream counters over the measured loop only: the
  * listeners are registered when the loop starts and read after the
  * listener bus is drained at its end. Plan counters come from the SQL
  * execution events on the listener bus rather than from a session's
  * QueryExecutionListener, so queries of every session count, the
  * streaming query's cloned session included.
  */
final class Counters(spark: SparkSession) {
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, schedDelayMs = new LongAdder
  val shuffleWrite, shuffleRead, spill = new LongAdder
  val scanBytes, scanRows, bytesWritten = new LongAdder
  val analysisMs, optimizationMs, planningMs = new LongAdder
  val exchanges = new LongAdder
  val writeNs, filesWritten = new LongAdder
  val batches = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]() // id, trigger ms, addBatch ms, rows
  @volatile private var open = false
  private var gcStartMs = 0L
  private var gcMs = 0L

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (open) jobs.increment()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (open) stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (open && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.increment()
      taskRunMs.add(m.executorRunTime)
      schedDelayMs.add(math.max(0L, (i.finishTime - i.launchTime) - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime -
        (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L)))
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      scanBytes.add(m.inputMetrics.bytesRead)
      scanRows.add(m.inputMetrics.recordsRead)
      bytesWritten.add(m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if open && !BenchSql.failed(end) =>
        BenchSql.queryExecution(end).foreach(onQuery(_, BenchSql.durationNs(end)))
      case _ =>
    }
  }

  private def onQuery(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
    exchanges.add(Counters.exchanges(qe.executedPlan))
    Counters.writes(qe.executedPlan).foreach { w =>
      writeNs.add(durationNs)
      w.cmd.metrics.get("numFiles").foreach(m => filesWritten.add(m.value))
    }
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (open && e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        batches.add((e.progress.batchId, ms("triggerExecution"), ms("addBatch"), e.progress.numInputRows))
      }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(stream)
    gcStartMs = gcTotalMs
    open = true
  }

  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    gcMs = gcTotalMs - gcStartMs
    open = false
    spark.sparkContext.removeSparkListener(engine)
    spark.streams.removeListener(stream)
  }

  def snapshot: Map[String, Any] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "task_run_ms" -> taskRunMs.sum, "sched_delay_ms" -> schedDelayMs.sum,
    "shuffle_write_bytes" -> shuffleWrite.sum, "shuffle_read_bytes" -> shuffleRead.sum,
    "spill_bytes" -> spill.sum, "gc_ms" -> gcMs,
    "scan_bytes" -> scanBytes.sum, "scan_rows" -> scanRows.sum,
    "bytes_written" -> bytesWritten.sum, "files_written" -> filesWritten.sum,
    "write_ns" -> writeNs.sum, "analysis_ms" -> analysisMs.sum,
    "optimization_ms" -> optimizationMs.sum, "planning_ms" -> planningMs.sum,
    "exchanges" -> exchanges.sum,
    "stream_batches" -> batches.asScala.toSeq.sortBy(_._1).map {
      case (id, trig, add, rows) => Map("batch" -> id, "trigger_ms" -> trig, "add_batch_ms" -> add, "rows" -> rows)
    })
}

object Counters {
  /** Write commands in a plan, including one run eagerly as a command. */
  def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(writes)
  }

  /** Shuffle exchanges in the final plan, looking through AQE query
    * stages and subqueries; reused exchanges are not counted again.
    */
  def exchanges(p: SparkPlan): Long = {
    val self = p match { case _: ShuffleExchangeLike => 1L; case _ => 0L }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    self + kids.map(exchanges).sum
  }
}
