package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import Main.{Inputs, Op}

/** Runs the ops in passes and keeps per-op and per-pass records. One
  * client, closed loop: each op starts when the previous one has
  * returned. Pass 0 is every op's first call in this JVM; the passes
  * after it are warm. Each pass runs the ops in its own seeded order.
  *
  * An op is: call the query function (span `build`), optimize its plan
  * (`optimize`), plan it physically (`plan`), then run the executed plan
  * to its last row (`execute`). The untraced run makes the same calls
  * without recording the spans.
  */
final class Runner(spark: SparkSession, tracer: Option[Tracer]) {
  import Runner._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private var jvm0 = (0L, 0L)
  private val opsById = mutable.Map.empty[Int, OpRec]

  def passes(ops: Seq[Op], inputs: Inputs, seed: Long, seconds: Double,
             minWarm: Int): Seq[PassRec] = {
    heapPools.foreach(_.resetPeakUsage())
    jvm0 = (gcMs, jitMs)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val out = mutable.ArrayBuffer.empty[PassRec]
    var p = 0
    while (p == 0 || p <= minWarm || (elapsed < seconds && p < MaxPasses)) {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(ops)
      val cpu0 = os.getProcessCpuTime
      val (cg0, sn0) = (Main.codegen(), Main.snapshotReads())
      val w0 = System.nanoTime()
      val recs = order.map(runOp(_, p, inputs))
      val wall = (System.nanoTime() - w0) / 1e9
      out += PassRec(p, wall, (os.getProcessCpuTime - cpu0) / 1e9,
        minus(Main.codegen(), cg0), minus(Main.snapshotReads(), sn0), recs)
      p += 1
    }
    out.toSeq
  }

  private def minus(a: (Long, Long), b: (Long, Long)) = (a._1 - b._1, a._2 - b._2)

  private def span[T](id: Int, parent: Int, name: String, op: Op, pass: Int)
                     (body: => T): T = tracer match {
    case Some(t) => t.span(id, parent, if (parent == 0) id else parent, name, pass, op.name)(body)
    case None => body
  }

  private def runOp(op: Op, pass: Int, inputs: Inputs): OpRec = {
    val in = inputs.take()
    val id = tracer.map(_.newId()).getOrElse(0)
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    val (io0, cg0) = (Main.ioBytes(), Main.codegen())
    var shape = Map.empty[String, Long]
    val t0 = System.nanoTime()
    val error = try {
      span(id, 0, "op", op, pass) {
        def child[T](name: String)(body: => T): T =
          span(tracer.map(_.newId()).getOrElse(0), id, name, op, pass)(body)
        val df = child("build")(op.query(in.toString))
        val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
        child("optimize")(qe.optimizedPlan)
        child("plan")(qe.executedPlan)
        child("execute")(SQLExecution.withNewExecutionId(qe, Some(op.name))(
          qe.executedPlan.execute().foreach(_ => ())))
        if (tracer.isDefined) shape = Tracer.planShape(qe.executedPlan)
      }
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(Tracer.OpProperty, null)
    inputs.release(in)
    val rec = OpRec(id, op.name, op.module, pass, seconds, error, shape,
      minus(Main.ioBytes(), io0), minus(Main.codegen(), cg0))
    if (tracer.isDefined) opsById(id) = rec
    rec
  }

  /** JVM totals over the timed window. */
  def jvmTotals(): Map[String, Any] = {
    val status = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Map(
      "gc_s" -> (gcMs - jvm0._1) / 1e3,
      "jit_s" -> (jitMs - jvm0._2) / 1e3,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "rss_peak_mb" -> status / 1024.0)
  }

  /** Layer detail of one op, attached to its `op` span line. */
  def opExtra(id: Int, t: Tracer): Map[String, Any] = opsById.get(id) match {
    case Some(r) => Map("module" -> r.module, "error" -> r.error,
      "exec" -> t.execFor(id).toMap, "plan" -> r.shape,
      "io_read_b" -> r.io._1, "io_write_b" -> r.io._2,
      "codegen_compiles" -> r.codegen._1, "codegen_ns" -> r.codegen._2,
      "stream_batches" -> t.progressFor(id).size)
    case None => Map.empty
  }

  def passJson(p: PassRec, tracer: Option[Tracer]): Map[String, Any] = {
    val base = Map(
      "pass" -> p.pass, "wall_s" -> p.wall, "cpu_s" -> p.cpu,
      // the ops' own I/O: the fresh input copies made between ops are not in it
      "io_read_b" -> p.ops.map(_.io._1).sum, "io_write_b" -> p.ops.map(_.io._2).sum,
      "codegen_compiles" -> p.codegen._1, "codegen_s" -> p.codegen._2 / 1e9,
      "segment_reads" -> p.snapshots._1, "footer_reads" -> p.snapshots._2,
      "ops" -> p.ops.map(r => Map("name" -> r.name, "module" -> r.module,
        "s" -> r.seconds, "error" -> r.error)))
    tracer match {
      case None => base
      case Some(t) =>
        val ids = p.ops.map(_.id).toSet
        def spanSum(name: String) = t.spansOf(name).filter(s => ids(s.op)).map(_.seconds).sum
        val exec = p.ops.map(r => t.execFor(r.id))
        val prog = p.ops.flatMap(r => t.progressFor(r.id))
        def shape(k: String) = p.ops.map(_.shape.getOrElse(k, 0L)).sum
        base ++ Map(
          "build_s" -> spanSum("build"), "optimize_s" -> spanSum("optimize"),
          "plan_s" -> spanSum("plan"), "execute_s" -> spanSum("execute"),
          "jobs" -> exec.map(_.jobs).sum, "stages" -> exec.map(_.stages).sum,
          "tasks" -> exec.map(_.tasks).sum, "task_s" -> exec.map(_.taskMs).sum / 1e3,
          "sched_delay_s" -> exec.map(_.schedMs).sum / 1e3,
          "shuffle_write_b" -> exec.map(_.shuffleWrite).sum,
          "shuffle_read_b" -> exec.map(_.shuffleRead).sum,
          "spill_b" -> exec.map(_.spill).sum,
          "sorts" -> shape("sorts"), "exchanges" -> shape("exchanges"),
          "windows" -> shape("windows"),
          "filter_below_windows" -> shape("filter_below_windows"),
          "codegen_stages" -> shape("codegen_stages"),
          "stream_batches" -> prog.size,
          "stream_batch_ms" -> prog.map(_.batchMs),
          "stream_add_batch_s" -> prog.map(_.addBatchMs).sum / 1e3,
          "stream_wal_commit_s" -> prog.map(_.walCommitMs).sum / 1e3,
          "stream_commit_offsets_s" -> prog.map(_.commitOffsetsMs).sum / 1e3,
          "stream_state_rows" -> prog.map(_.stateRows).sum)
    }
  }
}

object Runner {
  val MaxPasses = 200

  final case class OpRec(id: Int, name: String, module: String, pass: Int, seconds: Double,
                         error: Option[String], shape: Map[String, Long],
                         io: (Long, Long), codegen: (Long, Long))

  final case class PassRec(pass: Int, wall: Double, cpu: Double,
                           codegen: (Long, Long), snapshots: (Long, Long), ops: Seq[OpRec])
}
