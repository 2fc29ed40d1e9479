package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, round}
import graft.SparkEntry
import graft.clinical.{Metrics, Pipeline, PipelineConfig, Sources}
import graft.sources.{Snapshots, Tables}

/** One benchmark run in one JVM: set up a session, run the workload's
  * ops in passes (pass 0 cold, later passes warm) for about
  * `seconds`, then write every op's output for the correctness check
  * and a raw result file that perfbench/run.py turns into metrics.
  *
  * Arguments are `key=value`: workload (clinical|battery|writes),
  * data (input directory), ops (op-list file),
  * fixtures (the clinical golden fixtures), goldens (which of them to
  * check), seed, seconds, trace (0|1), cores, min_warm, out (run
  * directory).
  */
object Main {

  final case class Op(name: String, module: String, query: String => DataFrame)

  /** The paper's parameter grid: cohort × gender × diff semantics. */
  val clinicalGrid: Seq[(String, PipelineConfig)] =
    for {
      cohort <- Seq("week", "month", "ClinicID")
      gender <- Seq("all", "Male")
      strict <- Seq(false, true)
    } yield s"$cohort.$gender.${if (strict) "strict" else "compat"}" ->
      PipelineConfig(cohort = cohort, gender = gender, minAge = 18, maxAge = 72,
        clinicId = 5066, strictCohorts = strict)

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = Paths.get(a("out"))
    val trace = a.getOrElse("trace", "0") == "1"

    val t0 = System.nanoTime()
    val spark = session(workload, a("cores").toInt, out)
    val t1 = System.nanoTime()
    registerInputs(spark, workload, data)
    val t2 = System.nanoTime()
    val setup = Map("entry_ms" -> entryMs, "ready_ms" -> System.currentTimeMillis(),
      "session_s" -> (t1 - t0) / 1e9, "inputs_s" -> (t2 - t1) / 1e9)

    val grid = clinicalGrid.toMap
    val ops = workload match {
      case "clinical" =>
        opNames(a("ops")).map { n =>
          require(grid.contains(n), s"op list names an unknown clinical config: $n")
          Op(n, "clinical", dir => Pipeline.present(Pipeline.runFromCsv(spark, dir, grid(n))))
        }
      case _ =>
        val registry = SparkEntry.rawQueries
        val moduleOf = SparkEntry.modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }.toMap
        opNames(a("ops")).map { n =>
          require(registry.contains(n), s"op list names an unknown query: $n")
          Op(n, moduleOf(n), dir => registry(n)(spark, dir))
        }
    }
    // writes: every call gets its own copy of the inputs, so the
    // per-input-directory memos miss and each call redoes its writes
    val inputs = new Inputs(Paths.get(data), out.resolve("inputs"), fresh = workload == "writes")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, tracer)

    val passes = runner.passes(ops, inputs, a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("min_warm", "2").toInt)
    val jvm = runner.jvmTotals()

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (stages, stagesS) =
      timed(if (trace && workload == "clinical") clinicalStages(spark, data) else Map.empty)
    val (check, checkS) = timed(checkOutputs(spark, workload, ops, inputs, out.resolve("check")))
    val (goldens, goldensS) =
      timed(if (workload == "clinical") clinicalGoldens(spark, a("fixtures"), a("goldens"))
        else Map.empty)
    // what the correctness check compares against: the oracle SQL of
    // each registry op, or the parameters of each clinical config
    val expected: Map[String, Any] =
      if (workload == "clinical") ops.map { op =>
        val c = grid(op.name)
        op.name -> Seq(c.cohort, c.gender, c.minAge, c.maxAge, c.clinicId, c.strictCohorts)
      }.toMap
      else SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }

    spark.stop() // drains the listener bus: tracer counts are final now
    tracer.foreach { t =>
      val lines = t.spanLines(id => runner.opExtra(id, t))
      write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    val result = Map(
      "setup" -> setup,
      "passes" -> passes.map(p => runner.passJson(p, tracer)),
      "jvm" -> jvm, "stages" -> stages, "check" -> check, "goldens" -> goldens,
      "expected" -> expected,
      "untimed_s" -> Map("stages" -> stagesS, "check" -> checkS, "goldens" -> goldensS))
    write(out.resolve("result.json"), json(result))
  }

  private def opNames(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Clinical sessions are built the way `graft.clinical.Main` builds
    * them (with the graft extensions); the registry workloads use a
    * plain session, as Bench and Verify do.
    */
  private def session(workload: String, cores: Int, out: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    val withExt = if (workload == "clinical") b.withExtensions(new graft.plans.GraftExtensions) else b
    val spark = withExt.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Resolve every input the workload reads: schemas and file listings. */
  private def registerInputs(spark: SparkSession, workload: String, data: String): Unit =
    if (workload == "clinical")
      Seq(Sources.usersCsv _, Sources.weightsCsv _, Sources.treatmentsCsv _)
        .foreach(r => require(r(spark, data).inputFiles.nonEmpty, s"no clinical input in $data"))
    else
      Tables.names.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  /** Input directories handed to ops: the shared one, or a fresh copy
    * per call (made and removed outside the timed window).
    */
  final class Inputs(src: Path, root: Path, fresh: Boolean) {
    private var n = 0
    def take(): Path =
      if (!fresh) src
      else {
        n += 1
        val dst = root.resolve(s"in$n")
        Files.createDirectories(dst)
        Files.list(src).iterator().asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
        dst
      }
    def release(p: Path): Unit = if (fresh) graft.sources.Staging.delTree(p)
  }

  /** The reference's stage split (BASELINE.md) measured on this engine:
    * each stage materialized in full, three times, median kept. Each
    * stage includes the CSV reads it depends on.
    */
  private def clinicalStages(spark: SparkSession, dir: String): Map[String, Double] = {
    val cfg = PipelineConfig(cohort = "week", gender = "Male", minAge = 18, maxAge = 18)
    def u = Sources.usersCsv(spark, dir)
    def w = Sources.weightsCsv(spark, dir)
    def t = Sources.treatmentsCsv(spark, dir)
    def joined = Pipeline.joined(u, w, t)
    val stages: Seq[(String, () => Unit)] = Seq(
      "load_s" -> (() => { consume(u); consume(w); consume(t) }),
      "join_s" -> (() => consume(joined)),
      "sort_s" -> (() => consume(joined.orderBy(Metrics.sortKeys: _*))),
      "metrics_s" -> (() => consume(Pipeline.withMetrics(Pipeline.withDerived(joined), cfg))),
      "full_s" -> (() => consume(Pipeline.present(Pipeline.runFromCsv(spark, dir, cfg)))))
    stages.map { case (name, run) =>
      run() // first call: planning and codegen, not part of the stage table
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }
      name -> times.sorted.apply(1)
    }.toMap
  }

  /** Materialize a frame the way every timed op does: plan it, then run
    * its executed plan to the last row inside one SQL execution.
    */
  def consume(df: DataFrame): Unit = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(
      qe.executedPlan.execute().foreach(_ => ()))
  }

  /** Write each op's gated output for the oracle compare: the registry's
    * `queries` (with the gate's total order) for battery and writes,
    * the presented pipeline output for clinical.
    */
  private def checkOutputs(spark: SparkSession, workload: String, ops: Seq[Op],
                           inputs: Inputs, dir: Path): Map[String, String] = {
    val gated = if (workload == "clinical") Map.empty[String, (SparkSession, String) => DataFrame]
      else SparkEntry.queries
    ops.flatMap { op =>
      val in = inputs.take()
      try {
        val df = if (workload == "clinical") op.query(in.toString)
          else gated(op.name)(spark, in.toString)
        df.coalesce(1).write.parquet(dir.resolve(op.name).toString)
        None
      } catch {
        case e: Throwable => Some(op.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally inputs.release(in)
    }.toMap
  }

  /** Committed goldens at fixture scale (comma-separated names),
    * compared the way PipelineGoldenSpec compares them. Returns name ->
    * mismatch description ("" when equal).
    */
  private def clinicalGoldens(spark: SparkSession, fixtures: String,
                              names: String): Map[String, String] = {
    val keep = Seq("UID", "Gender", "Age", "ClinicID", "Weight", "Wts_CreatedDate", "month",
      "week", "WIR", "PSW", "TSW", "treatment_TBWL", "patient_TBWL")
    val doubles = Set("Weight", "PSW", "TSW", "treatment_TBWL", "patient_TBWL")
    def canon(df: DataFrame): Seq[String] =
      keep.foldLeft(df) { (d, c) =>
        if (doubles(c)) d.withColumn(c, round(col(c).cast("double"), 6).cast("string"))
        else d.withColumn(c, col(c).cast("string"))
      }.select(keep.map(col): _*).collect().toSeq
        .map(r => keep.indices.map(i => if (r.isNullAt(i)) "" else r.getString(i)).mkString("|"))
        .sorted
    Seq(
      "default_week" -> PipelineConfig(),
      "male_u18_week" -> PipelineConfig(gender = "Male", minAge = 18, maxAge = 18),
      "female_month" -> PipelineConfig(cohort = "month", gender = "Female", minAge = 10, maxAge = 80),
      "clinic_cohort" -> PipelineConfig(cohort = "ClinicID", minAge = 10, maxAge = 80, clinicId = 5067)
    ).filter { case (name, _) => names.split(",").contains(name) }.map { case (name, cfg) =>
      val got = canon(Pipeline.runFromCsv(spark, fixtures, cfg))
      val exp = canon(spark.read.option("header", "true").csv(s"$fixtures/golden/$name.csv"))
      name -> (if (got == exp) "" else s"${got.diff(exp).size} rows differ of ${exp.size}")
    }.toMap
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  /** Sums of /proc/self/io counters: logical read and write bytes. */
  def ioBytes(): (Long, Long) = {
    val kv = Files.readAllLines(Paths.get("/proc/self/io")).asScala.map { l =>
      val Array(k, v) = l.split(":\\s*"); k -> v.trim.toLong
    }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }

  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def snapshotReads(): (Long, Long) =
    (Snapshots.segmentReads.get, Snapshots.queryPathFooterReads.get)
}
