package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One JSON object per line, built from (key, value) pairs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Collects the benchmark's records: operations always; spans, jobs,
  * stages, tasks, Catalyst phases and streaming progress only in a
  * traced run.
  *
  * Jobs and tasks are attributed to the open operation and span through
  * Spark local properties, which every job submitted from the driver
  * thread (and every stream thread started from it) inherits. Listener
  * records arrive asynchronously; `op` drains the listener bus at both
  * ends, so each operation's records are complete before the next starts:
  * the records between an `op_start` line and its `op` line belong to
  * that operation. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val lines = ArrayBuffer.empty[String]
  private val async = new ConcurrentLinkedQueue[String]()
  private val cores = sc.defaultParallelism
  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Wall clock in epoch ms with sub-ms resolution (job and phase times
    * from Spark are epoch ms, so spans share their time axis). */
  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6
  def cpuNs: Long = osBean.getProcessCpuTime
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Time HotSpot's JIT compiler threads have spent compiling. */
  def jitMs: Long = jitBean.getTotalCompilationTime

  def emit(kv: (String, Any)*): Unit = lines += Json.obj(kv: _*)

  private var opId = 0
  private var spanId = 0
  private var openSpans: List[Int] = Nil
  private val OpKey = "perfbench.op"
  private val SpanKey = "perfbench.span"

  private def setProps(): Unit = {
    sc.setLocalProperty(OpKey, opId.toString)
    sc.setLocalProperty(SpanKey, openSpans.headOption.map(_.toString).orNull)
  }

  /** Time `body` as one operation. Returns the body's result, or the
    * throwable it raised (the benchmark counts it as failed). */
  def op[T](phase: String, name: String, pass: Int)(body: => T): Either[Throwable, T] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    flushAsync()
    opId += 1
    emit("k" -> "op_start", "op" -> opId)
    val root = if (traced) { spanId += 1; Some(spanId) } else None
    openSpans = root.toList
    setProps()
    val cg0 = codegen()
    val j0 = jitMs
    val c0 = cpuNs
    val t0 = nowMs
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs
    val c1 = cpuNs
    val j1 = jitMs
    val (cgN, cgMs) = codegenSince(cg0)
    openSpans = Nil
    setProps()
    org.apache.spark.PerfbenchBus.drain(sc)
    flushAsync()
    val left = cacheEntriesLeft()
    emit("k" -> "op", "op" -> opId, "phase" -> phase, "name" -> name,
      "pass" -> pass, "t0" -> t0, "t1" -> t1, "cpu_ns" -> (c1 - c0), "jit_ms" -> (j1 - j0),
      "ok" -> res.isRight, "err" -> res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)),
      "cache_left" -> left, "codegen_n" -> cgN, "codegen_ms" -> cgMs)
    root.foreach(r => emit("k" -> "span", "op" -> opId, "id" -> r, "parent" -> None,
      "name" -> "op", "t0" -> t0, "t1" -> t1))
    res
  }

  /** Time one set-up phase. */
  def setup(phase: String)(body: => Any): Unit = {
    val t0 = nowMs
    try body
    finally emit("k" -> "setup", "phase" -> phase, "ms" -> (nowMs - t0))
  }

  /** A span around one call into a module, inside the open operation. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      spanId += 1
      val id = spanId
      val parent = openSpans.headOption
      openSpans = id :: openSpans
      setProps()
      val cg0 = codegen()
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        val (cgN, cgMs) = codegenSince(cg0)
        openSpans = openSpans.tail
        setProps()
        emit("k" -> "span", "op" -> opId, "id" -> id, "parent" -> parent,
          "name" -> name, "t0" -> t0, "t1" -> t1, "codegen_n" -> cgN, "codegen_ms" -> cgMs)
      }
    }

  /** Janino compiles so far (`CodegenMetrics`): the count, and their
    * summed time while it is known. The time histogram keeps a sample of
    * at most 1028 values, not a running total; the sum of its values is
    * the total only while the sample still holds every compile. */
  private def codegen(): (Long, Option[Double]) = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = METRIC_COMPILATION_TIME.getSnapshot
    val n = METRIC_COMPILATION_TIME.getCount
    (n, if (snap.size == n) Some(snap.getValues.sum.toDouble) else None)
  }

  /** Compiles since `before`, and their time (None once unknown). */
  private def codegenSince(before: (Long, Option[Double])): (Long, Option[Double]) = {
    val (n, ms) = codegen()
    (n - before._1, for (a <- before._2; b <- ms) yield b - a)
  }

  /** Persisted RDDs (other than GC-owned local checkpoints) and
    * CacheManager entries left behind; released so the next operation
    * recomputes. The near-dup grouping memo is the one cache the
    * engine keeps on purpose across queries; it is released first, as
    * the engine's own cache audit does. */
  private def cacheEntriesLeft(): Int = {
    graft.queries.ExtQueries.invalidateNearDupGroups()
    val isLocalCk = classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
    val rdds = sc.getPersistentRDDs.values
      .filter(r => !isLocalCk.invoke(r).asInstanceOf[Boolean]).toSeq
    val cm = spark.sharedState.cacheManager
    val cmLeft = if (cm.isEmpty) 0 else 1
    rdds.foreach(r => try r.unpersist(false) catch { case _: Throwable => () })
    if (cmLeft > 0) cm.clearCache()
    rdds.size + cmLeft
  }

  private def flushAsync(): Unit = {
    var l = async.poll()
    while (l != null) { lines += l; l = async.poll() }
  }

  private def propsOf(p: java.util.Properties): (Option[Int], Option[Int]) =
    if (p == null) (None, None)
    else (Option(p.getProperty(OpKey)).map(_.toInt),
      Option(p.getProperty(SpanKey)).map(_.toInt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (o, s) = propsOf(e.properties)
      async.add(Json.obj("k" -> "job", "job" -> e.jobId, "op" -> o, "span" -> s,
        "t0" -> e.time, "stages" -> e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      async.add(Json.obj("k" -> "job_end", "job" -> e.jobId, "t1" -> e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val (o, s) = propsOf(e.properties)
      async.add(Json.obj("k" -> "stage", "stage" -> e.stageInfo.stageId,
        "attempt" -> e.stageInfo.attemptNumber(), "op" -> o, "span" -> s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) async.add(Json.obj("k" -> "task", "stage" -> e.stageId,
        "dur_ms" -> e.taskInfo.duration, "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "in_rec" -> m.inputMetrics.recordsRead, "in_bytes" -> m.inputMetrics.bytesRead,
        "out_rec" -> m.outputMetrics.recordsWritten, "out_bytes" -> m.outputMetrics.bytesWritten,
        "sh_r" -> m.shuffleReadMetrics.totalBytesRead,
        "sh_w" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_mem" -> m.peakExecutionMemory))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption
      async.add(Json.obj("k" -> "qe", "func" -> funcName, "t0" -> start,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.toSeq
      async.add(Json.obj("k" -> "batch", "query" -> Option(p.name).getOrElse(p.id.toString),
        "batch" -> p.batchId, "rows" -> p.numInputRows, "ms" -> d,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_rows" -> st.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    if (traced) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    }
    emit("k" -> "meta", "cores" -> cores, "traced" -> traced)
  }

  def write(path: String): Unit = {
    flushAsync()
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }
}
