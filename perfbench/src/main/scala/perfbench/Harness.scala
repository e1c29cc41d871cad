package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.StructType
import org.apache.spark.metrics.source.CodegenMetrics

/** One benchmark run inside one JVM, driven by perfbench/run.py.
  *
  * The run reads a spec file (key=value lines written by run.py: workload
  * mode, data directory, the seeded warm-up list and per-client schedules,
  * the DuckDB row counts every timed execution must reproduce) and calls
  * graft only through its public entry points: `Engine.create`, the
  * builders in `SparkEntry.queries` (which route JOB texts through
  * `Job.run`), Catalyst's `QueryExecution` phases, `Prepared.freshRdd` and
  * an RDD drain. It writes one JSON record of raw timings; run.py turns
  * that into metrics and checks the written results against DuckDB.
  *
  * With `trace=1` it also records spans around each of those calls and
  * registers a SparkListener for job, stage and task events. The timed
  * window is closed-loop: each client runs its schedule, starting each
  * execution when the previous one returns.
  */
object Harness {
  private val ExecKey = "perfbench.exec"

  final class Spec(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"spec key $k missing"))
    def list(k: String): Seq[String] = kv.get(k).filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
    def keys: Iterable[String] = kv.keys
  }

  object Spec {
    def load(path: String): Spec = new Spec(
      Files.readAllLines(Paths.get(path)).asScala.filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
      }.toMap)
  }

  // -------------------------------------------------------------- tracing

  final case class Span(name: String, exec: Int, query: String, parent: String,
      startMs: Double, endMs: Double)

  /** A Spark job; `exec` is the execution that tagged it, -1 if none. */
  final case class JobRec(id: Int, startMs: Long, var endMs: Long, exec: Int, stageIds: Seq[Int])

  /** One stage attempt with its tasks' metrics summed. */
  final case class StageRec(stage: Int, attempt: Int, submitMs: Long, completeMs: Long,
      failedStage: Boolean, tasks: Long, failedTasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long)

  /** Spans around the benchmark's calls into graft, kept in memory and
    * written out at exit. Disabled tracers record nothing. */
  final class Tracer(val on: Boolean) {
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis().toDouble
    val spans = new ConcurrentLinkedQueue[Span]()
    private val stack = ThreadLocal.withInitial[List[String]](() => Nil)

    def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

    def apply[T](name: String, exec: Int, query: String)(body: => T): T =
      if (!on) body
      else {
        val parent = stack.get.headOption.getOrElse("")
        stack.set(name :: stack.get)
        val s = System.nanoTime()
        try body
        finally {
          val e = System.nanoTime()
          stack.set(stack.get.tail)
          spans.add(Span(name, exec, query, parent, epochMs(s), epochMs(e)))
        }
      }
  }

  /** Job, stage and task events, aggregated per stage attempt. */
  final class Recorder extends SparkListener {
    final class StageAgg {
      var tasks, failed, runMs, cpuNs, gcMs, shufW, shufR, spill, inBytes, inRows = 0L
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageInfo]()
    private val agg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecKey))).getOrElse("-1")
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, exec.toInt, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = agg.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shufW += m.shuffleWriteMetrics.bytesWritten
          a.shufR += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
        }
      }
    }

    def stageRecs: Seq[StageRec] = stages.asScala.toSeq.sortBy(_._1).map { case (key, i) =>
      val g = Option(agg.get(key)).getOrElse(new StageAgg)
      StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L), i.failureReason.isDefined, g.tasks, g.failed, g.runMs,
        g.cpuNs, g.gcMs, g.shufW, g.shufR, g.spill, g.inBytes, g.inRows)
    }
  }

  // -------------------------------------------------------------- plans

  /** Exact operator counts over an executed plan, looking through AQE
    * stages and reused exchanges (each instance counted once). */
  def planCounts(root: SparkPlan): Map[String, Int] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other => other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    walk(root)
    val all = seen.asScala.toSeq
    Map(
      "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]),
      "joins" -> all.count(_.isInstanceOf[BaseJoinExec]),
      "wscg_stages" -> all.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  // -------------------------------------------------------------- json

  /** The record's writer: case-class fields become snake_case keys. */
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE).build()

  // -------------------------------------------------------------- run

  /** Exception class and first message line, as recorded for a failure. */
  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")}"

  /** One execution; `error` is null when it returned, `expected` the
    * DuckDB row count it must reproduce. */
  final case class Exec(id: Int, client: Int, query: String, startMs: Double, endMs: Double,
      rows: Long, expected: Option[Long], error: String, rddReused: Boolean, compiles: Long,
      compileMs: Double)

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") { graft.Verify.writeOracleJson(args(1)); return }
    if (args(0) == "--prepare-job") {
      // generate and register the JOB tables once, outside any timed run
      val spark = graft.Engine.create(master = "local[2]", shufflePartitions = 2, appName = "perfbench-prepare")
      graft.job.Job.ensure(spark)
      spark.stop()
      return
    }
    val spec = Spec.load(args(0))
    val tracer = new Tracer(spec("trace") == "1")
    val adhoc = spec("mode") == "adhoc"
    val cores = spec("cores").toInt
    val dataDir = spec("data")
    val out = Paths.get(spec("out"))
    Files.createDirectories(out)

    val spark = tracer("engine.create", -1, "") {
      graft.Engine.create(master = s"local[$cores]", shufflePartitions = cores,
        appName = "perfbench", dataDir = if (adhoc) None else Some(dataDir),
        extraConf = Map("spark.local.dir" -> spec("spark_local")))
    }
    val createdMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    val recorder = new Recorder
    if (tracer.on) sc.addSparkListener(recorder)

    val expected: Map[String, Long] = spec.list("expected").map { kv =>
      val i = kv.lastIndexOf(':'); kv.substring(0, i) -> kv.substring(i + 1).toLong
    }.toMap
    val schedules: Seq[Seq[String]] =
      spec.keys.filter(_.startsWith("schedule.")).toSeq.sortBy(_.stripPrefix("schedule.").toInt)
        .map(spec.list)
    val warmup = spec.list("warmup")
    val queryNames = (warmup ++ schedules.flatten).distinct

    // PREPARE (prepared mode): build each query once and plan it fully;
    // every execution then goes through Prepared.freshRdd
    val planned = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Int]]()
    val prepared: Map[String, DataFrame] =
      if (adhoc) {
        tracer("tables.register", -1, "")(graft.job.Job.ensure(spark))
        Map.empty
      } else queryNames.map { q =>
        val df = tracer("construct.build", -1, q)(graft.SparkEntry.queries(q)(spark, dataDir))
        tracer("plan.optimize", -1, q)(df.queryExecution.optimizedPlan)
        tracer("plan.physical", -1, q)(df.queryExecution.executedPlan)
        planned.put(q, planCounts(df.queryExecution.executedPlan))
        q -> df
      }.toMap

    val lastRdd = new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.WeakReference[RDD[_]]]()
    val execIds = new AtomicInteger(0)

    /** One execution of `q` through the workload's path; returns the
      * drained row count, or the rows themselves when `collect` is set. */
    def execute(q: String, exec: Int, collect: Boolean): (Long, Boolean, Array[Row], StructType) = {
      sc.setLocalProperty(ExecKey, exec.toString)
      try {
        val (rdd, schema) =
          if (adhoc) {
            val df = tracer("construct.build", exec, q)(graft.SparkEntry.queries(q)(spark, dataDir))
            tracer("plan.optimize", exec, q)(df.queryExecution.optimizedPlan)
            tracer("plan.physical", exec, q)(df.queryExecution.executedPlan)
            // with AQE on, toRdd already runs every stage but the last
            val r = tracer("exec.drain", exec, q)(df.queryExecution.toRdd)
            planned.computeIfAbsent(q, _ => planCounts(df.queryExecution.executedPlan))
            (r, df.schema)
          } else {
            val df = prepared(q)
            (tracer("prepared.front", exec, q)(graft.Prepared.freshRdd(df)), df.schema)
          }
        val prev = Option(lastRdd.put(q, new java.lang.ref.WeakReference(rdd))).flatMap(w => Option(w.get))
        val reused = prev.exists(_ eq rdd)
        if (collect) {
          val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
          val rows = tracer("exec.drain", exec, q)(rdd.map(_.copy()).collect()).map(toRow)
          (rows.length.toLong, reused, rows, schema)
        } else (tracer("exec.drain", exec, q)(rdd.count()), reused, null, schema)
      } finally sc.setLocalProperty(ExecKey, null)
    }

    // rows of each query's last collected execution, for the output check
    val collected = new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], StructType)]()

    def timedExec(q: String, client: Int, record: ConcurrentLinkedQueue[Exec],
        collect: Boolean = false): Unit = {
      val id = execIds.getAndIncrement()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val s = System.nanoTime()
      val (rows, reused, err) =
        try {
          val (n, r, out, schema) = tracer("execution", id, q)(execute(q, id, collect))
          if (collect) collected.put(q, (out, schema))
          (n, r, null)
        } catch {
          case e: Throwable => (-1L, false, describe(e))
        }
      val e = System.nanoTime()
      record.add(Exec(id, client, q, tracer.epochMs(s), tracer.epochMs(e), rows, expected.get(q), err, reused,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, (CodeGenerator.compileTime - ct0) / 1e6))
    }

    // WARM-UP (part of set-up): JIT, codegen and file-footer caches. The
    // second warm-up round of a prepared workload (a round runs each query
    // once) collects its rows instead of counting them: those re-drains of
    // the cached plans are what the output check compares with DuckDB. Not
    // the last round: the round after a collecting one ran ~10% slower.
    val warm = new ConcurrentLinkedQueue[Exec]()
    tracer("warmup", -1, "")(warmup.zipWithIndex.foreach { case (q, i) =>
      timedExec(q, 0, warm, collect = !adhoc && i / queryNames.size == 1)
    })
    val warmErrors = warm.asScala.filter(_.error != null).toSeq
    if (warmErrors.nonEmpty) System.err.println(s"[perfbench] warm-up errors: ${warmErrors.map(_.error).mkString("; ")}")

    // TIMED WINDOW
    val osBean = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val setupEndMs = System.currentTimeMillis()
    val cpu0 = osBean.getProcessCpuTime
    val gc0 = gcMs
    val jit0 = jitMs
    val w0 = System.nanoTime()
    val record = new ConcurrentLinkedQueue[Exec]()
    val clients = schedules.zipWithIndex.map { case (sched, client) =>
      new Thread(() => sched.foreach(q => timedExec(q, client, record)), s"perfbench-client-$client")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val w1 = System.nanoTime()
    val cpu1 = osBean.getProcessCpuTime
    val gc1 = gcMs
    val jit1 = jitMs
    if (tracer.on) org.apache.spark.PerfbenchBus.drain(sc)
    // live driver heap after a full collection, outside the timer (the JVM
    // runs without ExplicitGCInvokesConcurrent, so System.gc is a full GC)
    System.gc(); System.gc()
    val heapLive = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    // OUTPUT CHECK (outside the timer): every query's collected rows, or
    // for queries first seen in the window (job_adhoc) one more execution
    // through the same path, written out for run.py's DuckDB compare. Each
    // check yields the written row count, or the failure's description.
    val executed = record.asScala.map(_.query).toSet
    val checks = queryNames.filter(q => executed(q) || collected.containsKey(q)).map { q =>
      val res = try {
        val (rows, schema) = Option(collected.get(q)).getOrElse {
          val (_, _, r, schema) = execute(q, -2, collect = true); (r, schema)
        }
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve("results").resolve(q).toString)
        rows.length.toLong
      } catch {
        case e: Throwable => describe(e)
      }
      q -> res
    }
    if (tracer.on) org.apache.spark.PerfbenchBus.drain(sc)

    val rt = ManagementFactory.getRuntimeMXBean
    val conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.graft.smallData", "spark.graft.sampleReorder.enabled").map(k => k -> spark.conf.get(k, ""))
    val result = Map(
      "env" -> Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0, "cores" -> cores,
        "conf" -> conf.toMap),
      "engine_created_ms" -> createdMs,
      "setup_end_ms" -> setupEndMs,
      "window" -> Map("start_ms" -> tracer.epochMs(w0), "end_ms" -> tracer.epochMs(w1),
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_s" -> (gc1 - gc0) / 1e3,
        "jit_ms" -> (jit1 - jit0).toDouble, "heap_live_mb" -> heapLive / 1048576.0),
      "warmup" -> warm.asScala.toSeq,
      "executions" -> record.asScala.toSeq.sortBy(_.id),
      "checks" -> checks.toMap,
      "plans" -> planned.asScala.toMap,
      "spans" -> tracer.spans.asScala.toSeq,
      "jobs" -> recorder.jobs.asScala.toSeq.sortBy(_._1).map(_._2),
      "stages" -> recorder.stageRecs)
    json.writeValue(out.resolve("result.json").toFile, result)
    spark.stop()
  }
}
