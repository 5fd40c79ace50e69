package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one fresh JVM.
  *
  * It builds the session and registers the inputs, which is the set-up
  * time, then runs a closed loop with one client: every gate once per
  * pass, in an order shuffled from the seed on every pass. Pass 0 is the
  * cold pass and pass 1 a burn-in; measured warm passes repeat until
  * `--seconds` have passed. Each gate is timed by writing every output
  * column to the `noop` sink, so Catalyst cannot prune a column that
  * `count()` would not read. The burn-in writes each gate's output to
  * parquet for the oracle check. A StreamingQueryListener records
  * micro-batch latencies in every run.
  *
  * With `--trace 1` the harness also registers a SparkListener, a
  * QueryExecutionListener and timers around the builder, the action and
  * the cleanup of every gate. Measured passes alternate traced and
  * untraced so the trace overhead can be measured in the same run. Raw
  * records are kept in memory and written to `<out>/records.json` when
  * the run ends; `perfbench/metrics.py` turns them into metrics. */
object Harness {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }
  /** Wall clock in epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = opt("cores").toInt
    val data = opt("data")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", opt("scratch"))
      .config("spark.sql.warehouse.dir", s"${opt("scratch")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    opt("tables").split(",").foreach { t =>
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t)
    }
    // t0-ms is the epoch time at which the launcher started this process
    val setupS = (nowMs - opt("t0-ms").toDouble) / 1e3
    new Run(spark, opt, setupS).execute()
    // everything is on disk or stdout; the launcher deletes the scratch
    // directories, so skip the ~1 s of orderly Spark shutdown
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}

/** Records of one run; appended by listeners on the bus thread and by the
  * main thread, read only after the bus is drained. */
final class Run(spark: SparkSession, opt: Map[String, String],
    setupS: Double) {
  import Harness.nowMs
  private val sc = spark.sparkContext
  private val out = opt("out")
  private val data = opt("data")
  private val gates = opt("gates").split(",").toIndexedSeq
  private val trace = opt("trace") == "1"
  private val seconds = opt("seconds").toDouble
  private val deadlineMs = (opt("deadline-s").toDouble * 1e3).toLong
  // fewest measured passes; traced runs alternate traced and untraced
  // (T, U, T). The JIT keeps speeding passes up for several passes after
  // the cold one, so pass_s is the median of many passes, not the mean of
  // a few.
  private val minWarm = 3

  @volatile private var tracing = false
  @volatile private var currentExec = -1L
  @volatile private var currentPass = 0
  private val execSeq = new AtomicLong()

  private val jobs = new ConcurrentLinkedQueue[String]()
  private val queries = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  private val stages = mutable.Map[Int, StageAgg]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execs = mutable.ArrayBuffer[String]()
  private val passes = mutable.ArrayBuffer[String]()

  private final class StageAgg(val job: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var overheadMs = 0L; var shufWrite = 0L; var shufRead = 0L
    var fetchWaitMs = 0L; var spill = 0L; var inBytes = 0L; var inRows = 0L
    val runs = mutable.ArrayBuffer[Long]()
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case s: String => q(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case null => "null"
      case o => q(o.toString)
    }
    q(k) + ":" + s
  }.mkString("{", ",", "}")

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      stages.synchronized {
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
      jobs.add(obj("id" -> e.jobId, "exec" -> prop("perfbench.exec"),
        "span" -> prop("perfbench.span"), "start" -> e.time.toDouble,
        "end" -> null))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
      jobs.add(obj("id" -> e.jobId, "end" -> e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
      val m = e.taskMetrics
      if (m == null) return
      val i = e.taskInfo
      stages.synchronized {
        val a = stages.getOrElseUpdate(e.stageId,
          new StageAgg(stageJob.getOrElse(e.stageId, -1)))
        val dur = i.finishTime - i.launchTime
        val deser = m.executorDeserializeTime
        val ser = m.resultSerializationTime
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.runs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        // scheduler delay + deserialize + result serialize, as the Spark UI
        // splits a task's duration
        a.overheadMs += deser + ser + math.max(0L,
          dur - m.executorRunTime - deser - ser - i.gettingResultTime)
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  private object QueryListener extends QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (tracing) record(qe)
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = if (tracing) record(qe)
    private def record(qe: QueryExecution): Unit = {
      val catalystMs = qe.tracker.phases
        .filter { case (k, _) =>
          Set("analysis", "optimization", "planning").contains(k) }
        .values.map(p => p.endTimeMs - p.startTimeMs).sum
      val nodes = planNodes(qe.executedPlan)
      val joins = nodes.collect { case j: BaseJoinExec => j }
      val joinRows = joins.map(
        _.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      queries.add(obj("exec" -> currentExec, "catalyst_ms" -> catalystMs,
        "plan_nodes" -> nodes.size, "joins" -> joins.size,
        "join_rows" -> joinRows))
    }
  }

  /** Every physical operator of a plan, looking through adaptive-execution
    * wrappers into the plan that actually ran. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(planNodes)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      batches.add(obj("pass" -> currentPass, "exec" -> currentExec,
        "traced" -> tracing,
        "trigger_ms" -> d("triggerExecution"),
        "plan_ms" -> d("queryPlanning"), "add_batch_ms" -> d("addBatch"),
        "wal_ms" -> (d("walCommit") + d("commitOffsets")),
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum))
    }
  }

  private val watchdog = new java.util.Timer("perfbench-deadline", true)

  /** Build and time one gate; a throw or a deadline is recorded as a
    * failure and the run goes on. */
  private def runGate(gate: String, pass: Int,
      action: DataFrame => Unit): Unit = {
    val id = execSeq.incrementAndGet()
    currentExec = id
    val group = s"perfbench-$id"
    sc.setJobGroup(group, s"$gate pass $pass", interruptOnCancel = true)
    sc.setLocalProperty("perfbench.exec", id.toString)
    @volatile var deadlined = false
    // Past the deadline, cancel the gate's jobs and stop its streaming
    // queries, and keep doing so every half second until the gate returns:
    // a builder may start new jobs after a cancel, and a streaming query
    // runs its jobs in its own thread under its own job group, so only
    // stopping it unblocks a builder waiting in processAllAvailable.
    val killer = new java.util.TimerTask {
      def run(): Unit = {
        deadlined = true
        sc.cancelJobGroup(group)
        spark.streams.active.foreach(_.stop())
      }
    }
    watchdog.schedule(killer, deadlineMs, 500L)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val b0 = nowMs
    var b1, a1 = Double.NaN
    var err: String = null
    try {
      sc.setLocalProperty("perfbench.span", "build")
      val df = graft.SparkEntry.queries(gate)(spark, data)
      b1 = nowMs
      sc.setLocalProperty("perfbench.span", "action")
      action(df)
      a1 = nowMs
    } catch {
      case e: Throwable =>
        err = (if (deadlined) "deadline: " else "") +
          e.toString.linesIterator.nextOption().getOrElse("")
    } finally killer.cancel()
    if (b1.isNaN) b1 = nowMs
    if (a1.isNaN) a1 = nowMs
    // a gate that finished only after its deadline still failed
    if (deadlined && err == null)
      err = f"deadline: still running after ${deadlineMs / 1e3}%.3g s"
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val cacheBytes = if (tracing) sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum else 0L
    // what graft.Bench does between gates: drop the blocks a gate pinned
    sc.setLocalProperty("perfbench.span", "cleanup")
    val c0 = nowMs
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    graft.pipeline.Materialize.release(spark)
    spark.sharedState.cacheManager.clearCache()
    val c1 = nowMs
    sc.clearJobGroup()
    sc.setLocalProperty("perfbench.exec", null)
    sc.setLocalProperty("perfbench.span", null)
    if (tracing) Bus.drain(sc)
    execs += obj("id" -> id, "gate" -> gate, "pass" -> pass,
      "traced" -> tracing, "ok" -> (err == null && !deadlined),
      "error" -> err, "deadlined" -> deadlined, "build" -> Seq(b0, b1),
      "action" -> Seq(b1, a1), "cleanup" -> Seq(c0, c1),
      "compiles" -> compiles, "cache_bytes" -> cacheBytes)
    if (err != null)
      System.err.println(s"PERFBENCH FAILURE $gate pass $pass: $err")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Timing self-test: a query whose only cost is a column that `count()`
    * prunes. Returns the warm (count, noop) seconds; the noop time must
    * show the column's cost. */
  private def selfTest(): (Double, Double) = {
    import org.apache.spark.sql.functions.{col, repeat, sha2}
    val df = spark.range(0, 50000, 1, sc.defaultParallelism).select(
      col("id"), sha2(repeat(col("id").cast("string"), 2000), 512).as("h"))
    def secs(f: => Unit): Double = { val t = nowMs; f; (nowMs - t) / 1e3 }
    df.count(); noop(df)
    (secs(df.count()), secs(noop(df)))
  }

  def execute(): Unit = {
    if (trace) {
      sc.addSparkListener(Listener)
      spark.listenerManager.register(QueryListener)
    }
    spark.streams.addListener(StreamListener)
    val rng = new scala.util.Random(opt("seed").toLong)
    def pass(p: Int, traced: Boolean,
        action: String => DataFrame => Unit = _ => noop): Unit = {
      currentPass = p
      tracing = traced
      val order = rng.shuffle(gates)
      val s = nowMs
      order.foreach(g => runGate(g, p, action(g)))
      val e = nowMs
      tracing = false
      Bus.drain(sc)
      passes += obj("pass" -> p, "traced" -> traced, "start" -> s, "end" -> e)
      System.err.println(f"PERFBENCH PASS $p%d traced=$traced " +
        f"wall=${(e - s) / 1e3}%.3f s")
    }
    pass(0, trace)
    // burn-in: the JIT is still compiling what the cold pass loaded, so
    // this pass is not measured. It writes every gate's output to parquet
    // for the oracle check instead of to the noop sink.
    pass(1, traced = false, g => df =>
      df.repartition(1).write.mode("overwrite").parquet(s"$out/check/$g"))
    val warm0 = nowMs
    var p = 2
    while (p < 2 + minWarm || nowMs - warm0 < seconds * 1e3) {
      pass(p, trace && p % 2 == 0)
      p += 1
    }
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status")
      .getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    val (countS, noopS) = if (trace) selfTest() else (Double.NaN, Double.NaN)
    val oracle = gates.map(g =>
      q(g) + ":" + graft.SparkEntry.oracleSql.get(g).map(q).getOrElse("null"))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
    val stageRecs = stages.synchronized {
      stages.toSeq.sortBy(_._1).map { case (id, a) =>
        obj("id" -> id, "job" -> a.job, "tasks" -> a.tasks,
          "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "overhead_ms" -> a.overheadMs, "shuffle_write" -> a.shufWrite,
          "shuffle_read" -> a.shufRead, "fetch_wait_ms" -> a.fetchWaitMs,
          "spill" -> a.spill, "input_bytes" -> a.inBytes,
          "input_rows" -> a.inRows, "task_run_ms" -> a.runs.toSeq)
      }
    }
    def arr(xs: Iterable[String]) = xs.mkString("[\n", ",\n", "]")
    val json = Seq(
      "\"setup_s\":" + setupS,
      "\"peak_rss_mb\":" + peakRssMb,
      "\"cores\":" + opt("cores"),
      "\"min_warm\":" + minWarm,
      "\"selftest\":" + obj("count_s" -> countS, "noop_s" -> noopS),
      "\"passes\":" + arr(passes),
      "\"execs\":" + arr(execs),
      "\"jobs\":" + arr(jobs.asScala),
      "\"stages\":" + arr(stageRecs),
      "\"queries\":" + arr(queries.asScala),
      "\"batches\":" + arr(batches.asScala)).mkString("{\n", ",\n", "}\n")
    Files.writeString(Paths.get(s"$out/records.json"), json)
    watchdog.cancel()
  }
}
