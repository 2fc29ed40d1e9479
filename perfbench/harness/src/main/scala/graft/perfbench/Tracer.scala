package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and layer counters of one traced run, recorded from outside
  * the program: spans around the harness's calls into it, a
  * `SparkListener` for the scheduler and executors, a
  * `StreamingQueryListener` for micro-batches. Everything stays in
  * memory until [[spanLines]] renders it at the end of the run.
  *
  * Jobs carry the running op's id as a local property, so scheduler
  * and task counts are attributed exactly; streaming progress events
  * carry no such property and are attributed by their timestamp.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private val exec = mutable.Map.empty[Int, Exec]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private def execOf(op: Int): Exec = exec.getOrElseUpdate(op, new Exec)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .map(_.toInt).getOrElse(-1)
      execOf(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      execOf(stageOp.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = execOf(stageOp.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress += Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L,
        d("triggerExecution"), d("addBatch"), d("walCommit"), d("commitOffsets"),
        p.stateOperators.map(_.numRowsUpdated).sum)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Wall-clock origin shared by every span: nanoTime offset to epoch. */
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def newId(): Int = { nextId += 1; nextId }

  def span[T](id: Int, parent: Int, op: Int, name: String, pass: Int, opName: String)
             (body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(id, parent, op, name, pass, opName, t0 + epochNs,
      System.nanoTime() + epochNs)
  }

  /** Per-op exec counters; complete only after the SparkContext has
    * stopped, which drains the listener bus.
    */
  def execFor(op: Int): Exec = synchronized(exec.getOrElse(op, new Exec))

  /** Streaming progress events whose trigger started inside op `op`'s
    * span (timestamps have millisecond resolution).
    */
  def progressFor(op: Int): Seq[Progress] = synchronized {
    spans.find(s => s.id == op && s.parent == 0) match {
      case Some(s) => progress.filter(p => p.epochNs >= s.startNs - 1000000L &&
        p.epochNs <= s.endNs).toSeq
      case None => Nil
    }
  }

  /** The spans as JSON lines, each with its self time (duration minus
    * the part its child spans cover); `extra` adds fields to op spans.
    */
  def spanLines(extra: Int => Map[String, Any]): Seq[String] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val childNs = children.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => c.endNs - c.startNs).sum
      val durMs = (s.endNs - s.startNs) / 1e6
      Main.json(Map(
        "id" -> s.id, "parent" -> (if (s.parent == 0) None else Some(s.parent)),
        "op_id" -> s.op, "span" -> s.name, "op" -> s.opName, "pass" -> s.pass,
        "start_ms" -> s.startNs / 1e6, "dur_ms" -> durMs,
        "self_ms" -> (durMs - childNs / 1e6)) ++
        (if (s.parent == 0) extra(s.id) else Map.empty))
    }
  }

  def spansOf(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  val OpProperty = "perfbench.op"

  final case class Span(id: Int, parent: Int, op: Int, name: String, pass: Int,
                        opName: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Progress(epochNs: Long, batchMs: Long, addBatchMs: Long,
                            walCommitMs: Long, commitOffsetsMs: Long, stateRows: Long)

  final class Exec {
    var jobs, stages, tasks, taskMs, schedMs, shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_ms" -> taskMs, "sched_delay_ms" -> schedMs,
      "shuffle_write_b" -> shuffleWrite, "shuffle_read_b" -> shuffleRead,
      "spill_b" -> spill)
  }

  /** Operator counts of an executed plan, looking through adaptive
    * query stages; a reused exchange is counted where it was built.
    */
  def planShape(plan: SparkPlan): Map[String, Long] = {
    var sorts, exchanges, windows, filtersBelow, stages = 0L
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    def walk(p: SparkPlan, underWindow: Boolean): Unit = {
      p match {
        case _: SortExec => sorts += 1
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
        case _: WindowExec => windows += 1
        case _: FilterExec if underWindow => filtersBelow += 1
        case _: WholeStageCodegenExec => stages += 1
        case _ =>
      }
      val below = underWindow || p.isInstanceOf[WindowExec]
      kids(p).foreach(walk(_, below))
    }
    walk(plan, underWindow = false)
    Map("sorts" -> sorts, "exchanges" -> exchanges, "windows" -> windows,
      "filter_below_windows" -> filtersBelow, "codegen_stages" -> stages)
  }
}
