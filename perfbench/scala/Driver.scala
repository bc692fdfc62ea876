package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchSparkAccess
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.functions.{Md5U64, RollHash, TextKernels, VecOps}
import graft.sources.Tables

/** One benchmark run in one fresh JVM: session, warm-up, one timed pass
  * over a query list (each query's output is dumped for the oracle right
  * after its window), then, in traced runs, layer microbenches. Writes raw
  * measurements as JSON; `run.py` turns them into metrics. Arguments are
  * `key=value`:
  *
  *   launch_us  epoch µs at which the parent launched this JVM
  *   sf         data dir of the timed queries
  *   warm_sf    data dir of the warm-up queries
  *   queries    comma-separated query list (one pass)
  *   warmups    comma-separated warm-up list
  *   trace      1 = attach listeners, write ledger and spans, microbench
  *   dump       dir for the outputs and their oracle SQL
  *   out        result JSON path
  *   spans      span JSON-lines path (traced runs)
  *   work       scratch dir for Spark's local and warehouse dirs
  */
object Driver {
  private def epochUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val launchUs = opt("launch_us").toLong
    val sfDir = opt("sf")
    val queries = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val trace = opt("trace") == "1"
    val warmups = opt("warmups").split(",").toSeq.filter(_.nonEmpty)
    val cores = Runtime.getRuntime.availableProcessors()

    // Session shape of graft.Bench.
    if (!sys.props.contains("graft.stream.lifetimes"))
      sys.props("graft.stream.lifetimes") = "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("work")}/local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // graft.Bench's pre-timer reap: cached frames, localCheckpoint blocks
    // and a GC, all outside the timed window.
    def reap(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def build(name: String, dir: String): DataFrame = SparkEntry.queries(name)(spark, dir)

    warmups.foreach { n =>
      reap()
      try build(n, opt("warm_sf")).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val setupS = (epochUs() - launchUs) / 1e6

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val spans = new StringBuilder
    val dump = opt("dump")
    val dumpErrors = mutable.LinkedHashMap[String, Any]()
    val rows = mutable.ArrayBuffer[Map[String, Any]]()
    // One closed-loop pass, one client: each query starts when the previous
    // one (and its untimed oracle dump) has finished.
    queries.zipWithIndex.foreach { case (name, idx) =>
      reap()
      tracer.foreach(_.begin())
      val cpu0 = osBean.getProcessCpuTime
      val u0 = epochUs()
      val t0 = System.nanoTime()
      var t1 = -1L
      var df: DataFrame = null
      val error = try {
        df = build(name, sfDir)
        t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
      val t2 = System.nanoTime()
      val cpu1 = osBean.getProcessCpuTime
      if (t1 < 0) t1 = t2
      val row = mutable.LinkedHashMap[String, Any](
        "name" -> name,
        "build_s" -> (t1 - t0) / 1e9, "write_s" -> (t2 - t1) / 1e9,
        "window_s" -> (t2 - t0) / 1e9, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "error_class" -> error.map(_.getClass.getName).orNull,
        "error_message" -> error.map(e => String.valueOf(e.getMessage).take(500)).orNull)
      tracer.foreach { tr =>
        val u1 = u0 + (t1 - t0) / 1000
        val u2 = u0 + (t2 - t0) / 1000
        // The final frame is analyzed while it is built, in its own
        // QueryExecution; the write's execution then re-analyzes nothing.
        val analysisMs = Option(df).flatMap(_.queryExecution.tracker.phases.get("analysis"))
          .map(_.durationMs).getOrElse(0L)
        row ++= tr.end(s"$idx.$name", u0, u1, u2, analysisMs, spans)
      }
      rows += row.toMap
      // Oracle dump of the frame just timed, outside the window: the final
      // plan runs once more, without rebuilding the frame or its cuts.
      if (df != null) {
        try df.coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        catch { case e: Throwable => dumpErrors(name) = s"${e.getClass.getName}: ${e.getMessage}" }
      }
    }
    val peakRssKb = vmHwmKb()

    val micro = if (trace) Microbench.run(spark, sfDir) else Map.empty[String, Any]
    tracer.foreach(_.close())

    Files.createDirectories(Paths.get(dump))
    Files.write(Paths.get(s"$dump/oracle_sql.json"), Json.write(
      SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }).getBytes(UTF_8))

    val result = Map[String, Any](
      "setup_s" -> setupS, "peak_rss_kb" -> peakRssKb, "cores" -> cores,
      "ansi_enabled" -> spark.conf.getOption("spark.sql.ansi.enabled").orNull,
      "queries" -> rows.toSeq, "micro" -> micro, "dump_errors" -> dumpErrors.toMap)
    Files.write(Paths.get(opt("out")), Json.write(result).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(opt("spans")), spans.toString.getBytes(UTF_8))
    spark.stop()
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Listener-side accounting for one query at a time. Every callback adds
  * into `acc`; `end` drains the listener bus, so the events of the query
  * just run are all in, then turns them into a ledger row and spans. */
final class Tracer(spark: SparkSession) {
  private final class Acc {
    var tasks, failedTasks = 0L
    var taskMs, cpuNs, gcMs, shufRead, shufWrite, spill, outBytes, inBytes, inRows = 0L
    val jobStartsMs = mutable.ArrayBuffer[Long]()
    val stageSpans = mutable.ArrayBuffer[(String, Long, Long)]()
    var phasesMs = Map[String, Long]().withDefaultValue(0L)
    val batches = mutable.ArrayBuffer[(String, Long, Long)]()
    var triggerMs, addBatchMs, commitMs, stateCommitMs, stateRows = 0L
  }
  @volatile private var acc = new Acc
  private def add(f: Acc => Unit): Unit = { val a = acc; a.synchronized(f(a)) }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(_.jobStartsMs += e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val end = si.completionTime.getOrElse(System.currentTimeMillis())
      add(_.stageSpans += ((s"stage ${si.stageId}.${si.attemptNumber()} ${si.name.take(80)}",
        si.submissionTime.getOrElse(end), end)))
    }
    // Bytes of the files each scan selected: a driver-side SQL metric,
    // matched by name through the plan info of every SQL execution.
    private val fileSizeIds = mutable.Set[Long]()
    private def fileSizeMetrics(p: SparkPlanInfo): Seq[Long] =
      p.metrics.filter(_.name == "size of files read").map(_.accumulatorId) ++
        p.children.flatMap(fileSizeMetrics)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => fileSizeIds ++= fileSizeMetrics(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        fileSizeIds ++= fileSizeMetrics(s.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        add(a => d.accumUpdates.foreach { case (id, v) => if (fileSizeIds(id)) a.inBytes += v })
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add { a =>
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.inRows += m.inputMetrics.recordsRead
      }
    }
  }
  // Planning phases of the last execution in the window, which is the
  // final write; eager cuts inside the build are executions of their own.
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add(_.phasesMs = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        .toMap.withDefaultValue(0L))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = Instant.parse(p.timestamp).toEpochMilli
      add { a =>
        a.batches += ((s"batch ${Option(p.name).getOrElse(p.id)} #${p.batchId}", start,
          start + d("triggerExecution")))
        a.triggerMs += d("triggerExecution")
        a.addBatchMs += d("addBatch")
        a.commitMs += d("walCommit") + d("commitOffsets")
        p.stateOperators.foreach { s =>
          a.stateCommitMs += s.commitTimeMs
          a.stateRows += s.numRowsUpdated
        }
      }
    }
  }
  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  // Codegen: Spark logs one "Code generated in <t> ms" line per compiled
  // class. Its CodegenMetrics histogram samples rather than sums, so the
  // log line is the exact per-compile source; only this logger is raised
  // to INFO, and it does not propagate to the console.
  private var cgCount, cgMicros = 0L
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val codegenLine = "Code generated in ([0-9.]+) ms".r
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      codegenLine.findFirstMatchIn(e.getMessage.getFormattedMessage).foreach { m =>
        Tracer.this.synchronized {
          cgCount += 1
          cgMicros += (m.group(1).toDouble * 1000).toLong
        }
      }
  }
  appender.start()
  private val logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]
  logContext.getConfiguration.addLogger(codegenLogger, {
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    lc
  })
  logContext.updateLoggers()
  private def codegen(): (Long, Long) = synchronized((cgCount, cgMicros))

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
  private var gc0, jit0, cgCount0, cgMicros0 = 0L

  def begin(): Unit = {
    BenchSparkAccess.drain(spark.sparkContext)
    acc = new Acc
    gc0 = gcMs(); jit0 = jit.getTotalCompilationTime
    val (c, m) = codegen(); cgCount0 = c; cgMicros0 = m
  }

  /** Close the query whose build ran over [u0, u1) and write over [u1, u2)
    * (epoch µs): ledger fields, plus its spans appended to `out`. */
  def end(traceId: String, u0: Long, u1: Long, u2: Long, buildAnalysisMs: Long,
      out: StringBuilder): Map[String, Any] = {
    val gc = gcMs() - gc0
    val jitMs = jit.getTotalCompilationTime - jit0
    val (c, m) = codegen()
    BenchSparkAccess.drain(spark.sparkContext)
    val a = acc
    acc = new Acc
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val cutBytes = sc.getRDDStorageInfo.filter(i => persisted.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum

    val buildEndMs = u1 / 1000
    def clip(s: Long, e: Long): (Long, Long) = (math.max(s, u0 / 1000), math.min(e, u2 / 1000))
    val stages = a.stageSpans.map { case (n, s, e) => (n, clip(s, e)) }
    val batches = a.batches.map { case (n, s, e) => (n, clip(s, e)) }
    val occupiedMs = Tracer.union(stages.map(_._2).toSeq)
    val windowMs = (u2 - u0) / 1000.0
    def selfMs(lo: Long, hi: Long): Double = {
      val kids = (stages ++ batches).map(_._2).map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      (hi - lo) - Tracer.union(kids.toSeq).toDouble
    }

    def span(id: String, parent: String, name: String, s: Long, e: Long): Unit =
      out.append(Json.write(Map("trace" -> traceId, "span" -> id, "parent" -> parent,
        "name" -> name, "start_us" -> s, "end_us" -> e))).append('\n')
    span("q", null, "query", u0, u2)
    span("b", "q", "build", u0, u1)
    span("w", "q", "write", u1, u2)
    (stages.map(("stage", _)) ++ batches.map(("batch", _))).zipWithIndex.foreach {
      case ((kind, (n, (s, e))), i) =>
        span(s"$kind$i", if (s < buildEndMs) "b" else "w", n, s * 1000, e * 1000)
    }

    Map(
      "jobs" -> a.jobStartsMs.size, "build_jobs" -> a.jobStartsMs.count(_ < buildEndMs),
      "stages" -> a.stageSpans.size, "tasks" -> a.tasks, "failed_tasks" -> a.failedTasks,
      "task_s" -> a.taskMs / 1e3, "exec_cpu_s" -> a.cpuNs / 1e9, "exec_gc_s" -> a.gcMs / 1e3,
      "shuffle_read_mb" -> a.shufRead / 1048576.0, "shuffle_write_mb" -> a.shufWrite / 1048576.0,
      "spill_mb" -> a.spill / 1048576.0, "output_mb" -> a.outBytes / 1048576.0,
      "input_mb" -> a.inBytes / 1048576.0, "input_rows" -> a.inRows,
      "analysis_ms" -> (buildAnalysisMs + a.phasesMs("analysis")),
      "optimization_ms" -> a.phasesMs("optimization"), "physical_ms" -> a.phasesMs("planning"),
      "codegen_classes" -> (c - cgCount0), "codegen_ms" -> (m - cgMicros0) / 1e3,
      "jvm_gc_ms" -> gc, "jit_ms" -> jitMs,
      "cuts" -> persisted.size, "cut_mb" -> cutBytes / 1048576.0,
      "occupied_s" -> occupiedMs / 1e3, "gap_s" -> (windowMs - occupiedMs) / 1e3,
      "batches" -> a.batches.size, "trigger_ms" -> a.triggerMs, "add_batch_ms" -> a.addBatchMs,
      "commit_ms" -> a.commitMs, "state_commit_ms" -> a.stateCommitMs, "state_rows" -> a.stateRows,
      "self_build_s" -> selfMs(u0 / 1000, buildEndMs) / 1e3,
      "self_write_s" -> selfMs(buildEndMs, u2 / 1000) / 1e3,
      "batch_s" -> Tracer.union(batches.map(_._2).toSeq) / 1e3)
  }

  def close(): Unit = {
    BenchSparkAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    logContext.getConfiguration.removeLogger(codegenLogger)
    logContext.updateLoggers()
    appender.stop()
  }
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += math.max(curE - curS, 0L); curS = s; curE = e }
      else if (e > curE) curE = e
    }
    covered + math.max(curE - curS, 0L)
  }
}

/** Direct calls into the `functions` kernels and `sources.Tables.load`,
  * on inputs drawn from the run's generated tables. */
object Microbench {
  @volatile private var sink = 0L

  /** ns per call over whole sweeps of the n inputs lasting at least `ms`. */
  private def sweep(n: Int, ms: Long)(call: Int => Long): Double = {
    var calls = 0L
    var acc = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ms * 1000000L) {
      var i = 0
      while (i < n) { acc += call(i); i += 1 }
      calls += n
    }
    sink += acc
    (System.nanoTime() - t0).toDouble / calls
  }

  /** Median of 9 timed 30 ms sweeps, after 300 ms of untimed JIT warm-up. */
  private def nsPerCall(n: Int)(call: Int => Long): Double = {
    sweep(n, 300)(call)
    median((1 to 9).map(_ => sweep(n, 30)(call)))
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  def run(spark: SparkSession, sfDir: String): Map[String, Any] = {
    val texts = Tables.load(spark, sfDir, "documents").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = Tables.load(spark, sfDir, "embeddings").select("embedding").collect()
      .map(r => UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](0).toArray))
    val md5 = nsPerCall(texts.length)(i => Md5U64.hash(texts(i)))
    val roll = nsPerCall(texts.length)(i =>
      RollHash.hash(texts(i), TextKernels.RollB, TextKernels.RollM))
    val dot = nsPerCall(vecs.length)(i =>
      java.lang.Double.doubleToRawLongBits(
        VecOps.dot(vecs(i), true, vecs((i + 1) % vecs.length), true)))

    // Cold = the first load of a (dir, table) key in this JVM, which infers
    // the parquet schema; warm = a repeat call served by the schema cache.
    // Each cold sample uses a fresh spelling of the same directory.
    def timeMs(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val perTable = Tables.all.map { t =>
      val cold = (1 to 3).map(k => timeMs(Tables.load(spark, sfDir + "/." * k, t)))
      val warm = (1 to 5).map(_ => timeMs(Tables.load(spark, sfDir + "/.", t)))
      (median(cold), median(warm))
    }
    Map("md5_u64_ns" -> md5, "rolling_hash_ns" -> roll, "vector_dot_ns" -> dot,
      "md5_inputs" -> texts.length, "dot_inputs" -> vecs.length,
      "load_cold_ms" -> perTable.map(_._1).sum / perTable.size,
      "load_warm_ms" -> perTable.map(_._2).sum / perTable.size)
  }
}

/** Minimal JSON writer for the result, ledger and span files. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
