package graft.perfbench

import scala.collection.mutable
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own calls into a layer. Spans of one
  * query execution share `id`. */
final case class Span(id: Long, kind: String, name: String, startNs: Long, endNs: Long)

/** Per-layer counters for the traced run, fed by Spark's public listeners
  * (scheduler, SQL execution, streaming progress) plus the codegen metrics
  * and the spans the benchmark writes around its own layer calls.
  *
  * The listeners are attached only while a counting window is open
  * (`begin` .. `end`), so work outside the windows runs without them; both
  * ends drain the listener bus so a window holds exactly the events of the
  * work inside it. (A stream started inside a window keeps the planning
  * listener in its cloned session, but it counts only inside windows.) */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var codegen0 = (0L, 0L)

  // scheduler state, keyed by id, for jobs/stages open while counting
  private val jobStart = mutable.Map[Int, Long]()
  private val jobOut = mutable.Map[Int, (Long, Long)]().withDefaultValue((0L, 0L))
  private val stageJob = mutable.Map[Int, Int]()
  private val stageReads = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val skews = mutable.ArrayBuffer[Double]()

  private def add(k: String, v: Double): Unit = sums(k) += v

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (on) {
        val streaming = Option(e.properties)
          .exists(_.getProperty("sql.streaming.queryId") != null)
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
        add("exec.jobs", 1)
        if (streaming) add("stream.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        val (bytes, records) = jobOut(e.jobId)
        if (bytes > 0 || records > 0) {
          add("commit.writes", 1)
          add("commit.s", (e.time - t0) / 1e3)
          add("commit.mb", bytes / 1e6)
        }
      }
      jobOut.remove(e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val id = e.stageInfo.stageId
      if (stageJob.contains(id)) {
        add("exec.stages", 1)
        stageReads.remove(id).filter(_.sum > 0).foreach(r => skews += r.max * r.size.toDouble / r.sum)
        stageJob.remove(id)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).filter(_ => m != null).foreach { job =>
        val info = e.taskInfo
        add("exec.tasks", 1)
        add("exec.run_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        val overhead = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        add("exec.sched_delay_s", math.max(0L, info.duration - overhead) / 1e3)
        val read = m.shuffleReadMetrics.totalBytesRead
        add("shuffle.read_mb", read / 1e6)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        add("scan.mb", m.inputMetrics.bytesRead / 1e6)
        stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += read
        val (b, r) = jobOut(job)
        jobOut(job) = (b + m.outputMetrics.bytesWritten, r + m.outputMetrics.recordsWritten)
      }
    }
  }

  private val planning = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      if (on) {
        val p = qe.tracker.phases
        for ((phase, key) <- Seq("analysis" -> "plan.analysis_s",
            "optimization" -> "plan.optimization_s", "planning" -> "plan.planning_s"))
          p.get(phase).foreach(s => add(key, s.durationMs / 1e3))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        if (on) {
          val p = e.progress
          val d = p.durationMs
          def ms(k: String): Double = if (d.containsKey(k)) d.get(k).doubleValue else 0.0
          add("stream.batches", 1)
          for ((k, name) <- Seq("triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms",
              "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
              "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
            add(s"stream.$name", ms(k))
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution").toLong
          spans += Span(p.batchId, "stream_batch", p.name,
            (end - ms("triggerExecution").toLong) * 1000000L, end * 1000000L)
        }
      }
  }

  private var watched: Option[SparkSession] = None

  /** Opens a counting window over all jobs and streams, and over the
    * planning of `session`'s queries (every session has its own execution
    * listeners). */
  def begin(session: SparkSession): Unit = {
    ListenerBusDrain(sc)
    sc.addSparkListener(scheduler)
    spark.streams.addListener(progress)
    session.listenerManager.register(planning)
    watched = Some(session)
    synchronized {
      on = true
      codegen0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    }
  }

  /** Closes the window, detaching the listeners and folding the codegen
    * counters in. */
  def end(): Unit = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(scheduler)
    spark.streams.removeListener(progress)
    watched.foreach(_.listenerManager.unregister(planning))
    watched = None
    synchronized {
      if (on) {
        add("codegen.compiles",
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._1).toDouble)
        add("codegen.compile_s", (CodeGenerator.compileTime - codegen0._2) / 1e9)
      }
      on = false
    }
  }

  def newId(): Long = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = synchronized { spans += s }

  /** Forgets everything counted so far (spans are kept). */
  def reset(): Unit = synchronized { sums.clear(); skews.clear() }

  /** Everything counted so far, with the derived ratios filled in; a layer
    * no window exercised reads 0. */
  def totals: Map[String, Double] = synchronized {
    val s = Trace.Counters.map(k => k -> sums(k)).toMap
    val batches = s("stream.batches")
    def perBatch(k: String): Double = if (batches > 0) s(k) / batches else 0.0
    val streamKeys = Seq("trigger_ms", "add_batch_ms", "latest_offset_ms",
      "query_planning_ms", "wal_commit_ms", "commit_offsets_ms").map("stream." + _)
    s ++ streamKeys.map(k => k -> perBatch(k)) ++ Map(
      "stream.jobs_per_batch" -> perBatch("stream.jobs"),
      "shuffle.skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size))
  }

  def writeSpans(path: String): Unit = synchronized {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => out.println(Json.render(Map("id" -> s.id, "kind" -> s.kind,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    finally out.close()
  }
}

object Trace {
  /** Every counter the listeners keep. */
  val Counters: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.run_s",
    "exec.cpu_s", "exec.sched_delay_s", "shuffle.read_mb", "shuffle.write_mb", "spill.mb",
    "scan.rows", "scan.mb", "commit.writes", "commit.s", "commit.mb", "plan.analysis_s",
    "plan.optimization_s", "plan.planning_s", "codegen.compiles", "codegen.compile_s",
    "stream.batches", "stream.jobs", "stream.trigger_ms", "stream.add_batch_ms",
    "stream.latest_offset_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms")
}

/** Minimal JSON rendering for the run record (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
