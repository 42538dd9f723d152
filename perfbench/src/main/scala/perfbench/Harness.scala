package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Engine, SparkEntry}

/** Closed-loop measurement of one workload: a list of `SparkEntry.queries`
  * gates issued one after another by this single thread.
  *
  * The harness only measures. It reaches the engine through
  * `Engine.session` and `SparkEntry.queries`, and Spark through its public
  * listener, planning-tracker, codegen and MXBean instruments. It writes
  * the raw measurements as one JSON file; `run.py` turns them into metrics.
  *
  * Arguments: `<fixtureDir> <gate,gate,...> <seed> <seconds> <trace 0|1>
  * <rawOut> <verifyOut>`. After the measurement `graft.Verify` dumps every
  * gate's output into `verifyOut` (its gate list comes from the
  * `SPARK_GRAFT_ONLY` environment variable).
  */
object Harness {

  /** Local property that ties listener events to the span that caused them.
    * Stream queries copy the starting thread's local properties, so their
    * micro-batch jobs carry it too.
    */
  val SpanKey = "perfbench.span"
  val SetupGate = "q1_pricing_summary"
  val CanaryGate = "q13_scalar_fns"
  /** Set-ups after the timed passes, each in a fresh session; `setup_s`
    * is their median. The first, cold set-up is not one of them.
    */
  val WarmSetups = 9
  /** Index of the untimed pass between the cold pass and the warm ones. */
  val WarmupPass = 1

  type Obj = java.util.LinkedHashMap[String, Any]

  def obj(kv: (String, Any)*): Obj = {
    val m = new Obj()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Iterable[Any]): java.util.List[Any] = xs.toSeq.asJava

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process, all threads, in ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Process-wide counters read as deltas around a pass. */
  def counters(): Map[String, Long] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    Map(
      "gc_ms" -> gcMs,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "codegen_compile_ns" -> CodeGenerator.compileTime,
      "codegen_gen_ns" -> WholeStageCodegenExec.codeGenTime,
      "codegen_compilations" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Obj =
    obj(a.keys.toSeq.sorted.map(k => k -> (b(k) - a(k))): _*)

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Plan census of one executed plan: exchanges, leaf scans,
    * broadcast nested-loop joins, interpreted higher-order functions,
    * `CodegenFallback` expressions (a superset of the former) and
    * operators outside whole-stage codegen. Adaptive plans are read at
    * their current (initial) physical plan; subquery plans are included.
    */
  def census(root: SparkPlan): Map[String, Long] = {
    val c = mutable.Map[String, Long]().withDefaultValue(0L)
    def walk(p: SparkPlan, inWscg: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inWscg)
      case q: QueryStageExec => walk(q.plan, inWscg)
      case _: ReusedExchangeExec => c("reused_exchanges") += 1
      case w: WholeStageCodegenExec => walk(w.child, inWscg = true)
      case i: InputAdapter => walk(i.child, inWscg = false)
      case op =>
        c("operators") += 1
        if (!inWscg) c("non_wscg_ops") += 1
        op match {
          case _: Exchange => c("exchanges") += 1
          case _: BroadcastNestedLoopJoinExec => c("bnl_joins") += 1
          case _ =>
        }
        if (op.children.isEmpty) c("scans") += 1
        op.expressions.foreach(_.foreach {
          case h: HigherOrderFunction =>
            c("interpreted_hof") += 1
            c("codegen_fallback") += 1
          case _: CodegenFallback => c("codegen_fallback") += 1
          case _ =>
        })
        op.subqueries.foreach(walk(_, inWscg = false))
        op.children.foreach(walk(_, inWscg))
    }
    walk(root, inWscg = false)
    Seq("operators", "non_wscg_ops", "exchanges", "reused_exchanges", "scans",
      "bnl_joins", "interpreted_hof", "codegen_fallback").map(k => k -> c(k)).toMap
  }

  /** Task, stage and job totals per span, and every streaming progress
    * event. Events arrive on Spark's listener thread; readers wait for
    * [[drain]] first.
    */
  final class Listener extends SparkListener {
    val spans = mutable.Map[String, mutable.Map[String, Long]]()
    private val stageSpan = mutable.Map[Int, String]()
    private val jobSpan = mutable.Map[Int, String]()
    val streamEvents = mutable.ArrayBuffer[Obj]()
    @volatile var markerDone = false

    private def spanOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("none")

    private def add(span: String, kv: (String, Long)*): Unit = synchronized {
      val m = spans.getOrElseUpdate(span, mutable.Map[String, Long]().withDefaultValue(0L))
      kv.foreach { case (k, v) => m(k) += v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      synchronized {
        jobSpan(e.jobId) = span
        e.stageIds.foreach(stageSpan(_) = span)
      }
      add(span, "jobs" -> 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (synchronized(jobSpan.get(e.jobId)).contains("marker")) markerDone = true

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = spanOf(e.properties)
      synchronized(stageSpan(e.stageInfo.stageId) = span)
      add(span, "stages" -> 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = synchronized(stageSpan.getOrElse(e.stageId, "none"))
      val info = e.taskInfo
      val failed = if (info.failed || info.killed) 1L else 0L
      val m = e.taskMetrics
      if (m == null) { add(span, "tasks" -> 1, "failed_tasks" -> failed); return }
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      val duration = info.finishTime - info.launchTime
      val schedDelay = math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      add(span,
        "tasks" -> 1, "failed_tasks" -> failed,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deserialize_ms" -> m.executorDeserializeTime,
        "sched_delay_ms" -> schedDelay,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_records" -> m.inputMetrics.recordsRead,
        "shuffle_write_bytes" -> sw.bytesWritten,
        "shuffle_write_records" -> sw.recordsWritten,
        "shuffle_write_ns" -> sw.writeTime,
        "shuffle_read_bytes" -> (sr.localBytesRead + sr.remoteBytesRead),
        "shuffle_read_records" -> sr.recordsRead,
        "fetch_wait_ms" -> sr.fetchWaitTime)
      synchronized {
        val s = spans(span)
        s("peak_exec_mem_bytes") = math.max(s("peak_exec_mem_bytes"), m.peakExecutionMemory)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: StreamingQueryListener.QueryStartedEvent =>
        synchronized(streamEvents += obj("kind" -> "started", "run_id" -> s.runId.toString,
          "timestamp" -> s.timestamp))
      case p: StreamingQueryListener.QueryProgressEvent =>
        val pr = p.progress
        val states = pr.stateOperators.toSeq
        synchronized(streamEvents += obj(
          "kind" -> "progress", "run_id" -> pr.runId.toString,
          "timestamp" -> pr.timestamp, "batch_id" -> pr.batchId,
          "input_rows" -> pr.numInputRows,
          "duration_ms" -> obj(pr.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }: _*),
          "state_commit_ms" -> states.map(_.commitTimeMs).sum,
          "state_rows" -> states.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> states.map(_.memoryUsedBytes).sum))
      case _ =>
    }

    def snapshot: Obj = synchronized(obj(spans.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> obj(v.toSeq.sortBy(_._1): _*)
    }: _*))
  }

  /** Wait until every event posted before now has reached `l`: the
    * listener bus delivers in order, so a marker job's end comes last.
    */
  def drain(spark: SparkSession, l: Listener): Unit = {
    l.markerDone = false
    spark.sparkContext.setLocalProperty(SpanKey, "marker")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!l.markerDone && System.nanoTime() < deadline) Thread.sleep(5)
    if (!l.markerDone) throw new IllegalStateException("listener bus did not drain in 60 s")
  }

  def main(args: Array[String]): Unit = {
    val Array(fixtures, gateArg, seedArg, secondsArg, traceArg, rawOut, verifyOut) = args
    val gates = gateArg.split(",").toSeq
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val queries = SparkEntry.queries
    val missing = (gates :+ SetupGate :+ CanaryGate).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(",")}")

    // Set-up: a session plus its first query. The first one is cold: it
    // pays class loading and JIT warm-up. The warm ones come after the
    // passes, when the JIT has settled.
    val setups = mutable.ArrayBuffer[Obj]()
    var spark: SparkSession = null
    def setUp(): Unit = {
      if (spark != null) spark.stop()
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      spark = Engine.session(cpus, "perfbench")
      val t1 = System.nanoTime()
      val rows = queries(SetupGate)(spark, fixtures).count()
      val t2 = System.nanoTime()
      setups += obj("session_s" -> secs(t0, t1), "first_count_s" -> secs(t1, t2),
        "setup_s" -> secs(t0, t2), "cpu_s" -> secs(c0, cpuNs()), "rows" -> rows)
    }
    setUp()
    val sc = spark.sparkContext
    // attached only around traced passes, so untraced ones pay none of it
    val listener = new Listener
    // one untimed canary run so the sampled series is warm from the first point
    queries(CanaryGate)(spark, fixtures).count()

    val canary = mutable.ArrayBuffer[Double]()
    def sampleCanary(): Unit = {
      val t0 = System.nanoTime()
      queries(CanaryGate)(spark, fixtures).count()
      canary += secs(t0, System.nanoTime())
    }

    val spans = mutable.ArrayBuffer[Obj]()
    var nextSpan = 0
    def span[T](name: String, kind: String, parent: Int, attrs: (String, Any)*)(body: Int => T): T = {
      val id = nextSpan
      nextSpan += 1
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body(id) finally {
        val t1 = System.nanoTime()
        spans += obj(Seq("id" -> id, "parent" -> parent, "name" -> name, "kind" -> kind,
          "start_ns" -> t0, "end_ns" -> t1, "start_ms" -> startMs,
          "end_ms" -> System.currentTimeMillis()) ++ attrs: _*)
      }
    }

    val censusByGate = new Obj()
    def errorText(t: Throwable): String =
      Option(t.getMessage).getOrElse(t.getClass.getName).linesIterator.nextOption().getOrElse("").take(200)

    /** One closed-loop gate run, untraced: build and count, timed together. */
    def runPlain(name: String): Obj = {
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      try {
        val rows = queries(name)(spark, fixtures).count()
        obj("gate" -> name, "wall_s" -> secs(t0, System.nanoTime()),
          "cpu_s" -> secs(c0, cpuNs()), "rows" -> rows)
      } catch { case t: Throwable =>
        obj("gate" -> name, "wall_s" -> secs(t0, System.nanoTime()),
          "cpu_s" -> secs(c0, cpuNs()), "error" -> errorText(t))
      }
    }

    /** One gate run, traced: build, plan and execute spans. */
    def runTraced(name: String, passIdx: Int, passSpan: Int): Obj =
      span(name, "gate", passSpan) { gateSpan =>
        val t0 = System.nanoTime()
        val s = obj("gate" -> name)
        def phase[T](ph: String)(body: => T): T = {
          sc.setLocalProperty(SpanKey, s"p$passIdx/$name/$ph")
          span(ph, ph, gateSpan, "gate" -> name)(_ => body)
        }
        try {
          val tb = System.nanoTime()
          val df: DataFrame = phase("build")(queries(name)(spark, fixtures))
          val tp = System.nanoTime()
          val plan = phase("plan")(df.queryExecution.executedPlan)
          val te = System.nanoTime()
          val rows = phase("execute")(df.count())
          val tEnd = System.nanoTime()
          s.put("build_s", secs(tb, tp)); s.put("plan_s", secs(tp, te))
          s.put("exec_s", secs(te, tEnd)); s.put("rows", rows)
          val phases = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            s.put(s"${p}_ms", phases.get(p).map(_.durationMs).getOrElse(0L))
          }
          if (!censusByGate.containsKey(name))
            censusByGate.put(name, obj(census(plan).toSeq.sortBy(_._1): _*))
        } catch { case t: Throwable => s.put("error", errorText(t)) }
        finally sc.setLocalProperty(SpanKey, null)
        s.put("wall_s", secs(t0, System.nanoTime()))
        s
      }

    val rng = new scala.util.Random(seedArg.toLong)
    val passes = mutable.ArrayBuffer[Obj]()

    // The cold pass runs in the listed order, so its JIT and codegen
    // warm-up sequence is the same in every run; warm passes are shuffled.
    def runPass(idx: Int, traced: Boolean, runSpan: Int): Obj = {
      val order = if (idx == 0) gates else rng.shuffle(gates)
      if (traced) sc.addSparkListener(listener)
      val c0 = counters()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val samples =
        if (traced) span(s"pass$idx", "pass", runSpan)(ps => order.map(runTraced(_, idx, ps)))
        else order.map(runPlain)
      val t1 = System.nanoTime()
      val cpu1 = cpuNs()
      val c1 = counters()
      if (traced) { drain(spark, listener); sc.removeSparkListener(listener) }
      obj("index" -> idx, "warmup" -> (idx == WarmupPass), "traced" -> traced, "wall_s" -> secs(t0, t1), "cpu_s" -> secs(cpu0, cpu1),
        "counters" -> delta(c0, c1), "samples" -> list(samples))
    }

    val peakHeap = span("run", "run", -1) { runSpan =>
      heapPools.foreach(_.resetPeakUsage())
      sampleCanary()
      passes += runPass(0, traced = false, runSpan)
      sampleCanary()
      // one warm-up pass, left out of the warm-pass metrics: the steepest
      // part of the JIT's warm-up falls in it
      passes += runPass(WarmupPass, traced = false, runSpan)
      sampleCanary()
      // warm passes while the next one (as long as the last) still fits in
      // the time; a traced run interleaves untraced and traced passes as
      // U T T U, so both see the same box and the same JIT warm-up
      val warmT0 = System.nanoTime()
      val minPasses = 4
      var idx = WarmupPass + 1
      var last = 0.0
      while (idx <= WarmupPass + minPasses || secs(warmT0, System.nanoTime()) + last <= seconds) {
        val p = runPass(idx, traced = trace && (idx % 4 == 3 || idx % 4 == 0), runSpan)
        passes += p
        last = p.get("wall_s").asInstanceOf[Double]
        sampleCanary()
        idx += 1
      }
      heapPools.map(_.getPeakUsage.getUsed).sum
    }
    for (_ <- 1 to WarmSetups) setUp()

    val env = obj(
      "nproc" -> cpus, "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm_args" -> list(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-X"))))
    val raw = obj(
      "env" -> env, "gates" -> list(gates), "seed" -> seedArg.toLong, "seconds" -> seconds,
      "trace" -> trace, "setup" -> list(setups), "passes" -> list(passes),
      "canary_s" -> list(canary), "peak_heap_bytes" -> peakHeap,
      "spans" -> list(spans), "census" -> censusByGate,
      "listener" -> listener.snapshot, "stream_events" -> list(listener.streamEvents))
    Files.write(Paths.get(rawOut),
      new ObjectMapper().writeValueAsString(raw).getBytes(StandardCharsets.UTF_8))

    // Correctness dump, outside every timed region. Verify stops the
    // session and exits non-zero if any gate failed.
    graft.Verify.main(Array(fixtures, verifyOut))
    System.exit(0)
  }
}
