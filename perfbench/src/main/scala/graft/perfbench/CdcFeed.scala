package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.Tables
import graft.operators.SearchOps
import graft.streaming.{CdcStream, IngestStream}

/** The `cdc_feed` workload: the paper's job, driven through public calls.
  *
  * A base search-index generation is built over a seeded half of
  * `documents`; a seeded INSERT/UPDATE/DELETE change log (with `event_seq`)
  * is staged as parquet files of `ChangesPerFile` changes. The changes are
  * consumed by `CdcStream.readEventStream` → `IngestStream.cdcIndexSink`
  * under a `TriggerMs` processing-time trigger, `FilesPerTrigger` files per
  * micro-batch (a page of 1000 changes, as in the reference daemon):
  *
  *  1. boot backlog: `backlogFiles` files are in the watched directory when
  *     the stream starts; their drain rate is measured;
  *  2. steady phase: an open-loop generator moves one staged file into the
  *     watched directory every 1/`rate` seconds, whether or not the stream
  *     keeps up, for `seconds` after the backlog is committed. A file's
  *     latency runs from its due time to the end of the micro-batch
  *     that committed it (from the streaming progress events);
  *  3. the source generation is settled (`settleSearchUpserts`) and probed.
  *
  * The check: the settled generation (postings, document lengths and a
  * BM25 probe) must equal an index built in batch over the corpus the
  * offered change log implies. In a traced run the backlog and the second half of
  * the steady phase are traced; the first half is the untraced reference
  * for the tracing overhead. */
final class CdcFeed(spark: SparkSession, dataDir: String, work: String, seed: Long,
    seconds: Double, trace: Option[Trace], setupReps: Int, backlogFiles: Int, rate: Double) {
  import spark.implicits._
  import CdcFeed._

  private case class Change(statement: String, docId: Long, text: String, seq: Long)

  private val corpus: IndexedSeq[(Long, String)] = Tables.documents(spark, dataDir)
    .select(col("doc_id"), col("text")).as[(Long, String)].collect().toIndexedSeq.sortBy(_._1)
  private val rng = new Random(seed)
  private val (base, reserve) = {
    val (b, r) = rng.shuffle(corpus).splitAt(corpus.size / 2)
    (b.sortBy(_._1), r.map(_._1))
  }
  private val nFiles = backlogFiles + math.ceil(rate * seconds).toInt + 1
  require(setupReps >= 2, "the warm-up drains a spare set-up, so cdc_feed needs two or more")

  /** The change log, file by file. INSERTs take the ids left out of the base
    * (then fresh ids) and text sampled from the corpus; UPDATEs and DELETEs
    * pick a live id. */
  private val changeLog: IndexedSeq[IndexedSeq[Change]] = {
    val live = mutable.ArrayBuffer[Long]()
    live ++= base.map(_._1)
    val ids = reserve.iterator ++ Iterator.from(0).map(corpus.last._1 + 1 + _)
    var seq = 0L
    def text(): String = corpus(rng.nextInt(corpus.size))._2
    IndexedSeq.fill(nFiles, ChangesPerFile) {
      seq += 1
      val r = rng.nextDouble()
      if (r < 0.5 || live.size < 2) {
        val id = ids.next()
        live += id
        Change("INSERT", id, text(), seq)
      } else if (r < 0.8) Change("UPDATE", live(rng.nextInt(live.size)), text(), seq)
      else {
        val i = rng.nextInt(live.size)
        val id = live(i)
        live(i) = live.last
        live.remove(live.size - 1)
        Change("DELETE", id, "", seq)
      }
    }
  }

  private def now: Long = System.nanoTime()
  private def uuid: String = java.util.UUID.randomUUID().toString.replace("-", "")

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One set-up: the base generation under fresh names, plus every change
    * file staged (one write job, then one file per change-log file). */
  private def setUp(rep: Int): (String, String) = {
    val dir = s"$work/cdc$rep"
    val src = s"perfbench_cdc_$uuid"
    SearchOps.writeSearchIndex(base.toDF("doc_id", "text"), "doc_id", "text", src, s"$dir/index")
    SearchOps.writeDocLengths(spark, src, s"$dir/doclens")
    val staged = s"$dir/staged"
    changeLog.zipWithIndex
      .flatMap { case (f, i) => f.map(c => (i, c.statement, c.docId, c.text, c.seq)) }
      .toDF("file_no", "statement", "doc_id", "text", "event_seq")
      .repartition(col("file_no"))
      .write.partitionBy("file_no").parquet(s"$staged/tmp")
    for (i <- changeLog.indices) {
      val part = new File(s"$staged/tmp/file_no=$i").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"change file $i staged as ${part.length} files")
      Files.move(part.head.toPath, Paths.get(staged, f"change-$i%06d.parquet"))
    }
    deleteTree(new File(s"$staged/tmp"))
    (src, dir)
  }

  /** Drains `WarmUpPages` pages of a set-up's own change log, one page per
    * micro-batch, into its own base generation (never the measured one), so
    * the measured stream starts in a JVM whose compiler has seen the
    * micro-batch path run several times. Returns its seconds. */
  private def warmUp(setUp: (String, String)): Double = {
    val (src, dir) = setUp
    val t0 = now
    val watch = new File(s"$dir/warmup")
    watch.mkdirs()
    for (i <- 0 until math.min(WarmUpPages * FilesPerTrigger, nFiles)) {
      val f = f"change-$i%06d.parquet"
      Files.move(Paths.get(dir, "staged", f), watch.toPath.resolve(f))
    }
    IngestStream.cdcIndexSink(
      CdcStream.readEventStream(spark, watch.getPath, maxFilesPerTrigger = FilesPerTrigger),
      src, s"$dir/warmup-checkpoint").awaitTermination()
    (now - t0) / 1e9
  }

  def run(): Map[String, Any] = {
    val setups = (0 until setupReps).map { rep =>
      val t0 = now
      val s = setUp(rep)
      (s, (now - t0) / 1e9)
    }
    val (src, dir) = setups.last._1
    val warmUpS = warmUp(setups.head._1)
    val watch = new File(s"$dir/watch")
    watch.mkdirs()

    // start and end of every micro-batch that read input, by batch id
    val batches = mutable.LinkedHashMap[Long, (Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) batches.synchronized {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          batches(p.batchId) = (start, start + p.durationMs.get("triggerExecution"))
        }
      }
    }
    spark.streams.addListener(listener)

    // a file's mtime orders it in the file source, so it is set to the
    // offer time before the (atomic) move into the watched directory
    val offeredAt = mutable.ArrayBuffer[Long]()
    def offer(i: Int): Unit = {
      val f = new File(s"$dir/staged", f"change-$i%06d.parquet")
      val t = System.currentTimeMillis()
      f.setLastModified(t)
      Files.move(f.toPath, watch.toPath.resolve(f.getName))
      offeredAt += t
    }
    (0 until backlogFiles).foreach(offer)

    // which micro-batch read each change file: the file source's log in the
    // checkpoint. (The progress events' input-row counts cannot say: the sink
    // reads its batch several times, and each read is counted.)
    val sourceLog = new File(s"$dir/checkpoint/sources/0")
    val entry = "change-(\\d+)\\.parquet\".*\"batchId\":(\\d+)".r.unanchored
    def fileBatches: Map[Int, Long] =
      Option(sourceLog.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .flatMap(f => scala.util.Try(Files.readAllLines(f.toPath).asScala.toSeq).getOrElse(Nil))
        .collect { case entry(file, batch) => file.toInt -> batch.toLong }.toMap
    // end of the micro-batch that committed each file, once its progress is in
    def committed: Map[Int, Long] = {
      val fb = fileBatches
      batches.synchronized(fb.flatMap { case (f, b) => batches.get(b).map(f -> _._2) })
    }

    trace.foreach { t => t.reset(); t.begin(spark) }
    val startMs = System.currentTimeMillis()
    val query = IngestStream.cdcIndexSink(
      CdcStream.readEventStream(spark, watch.getPath, maxFilesPerTrigger = FilesPerTrigger),
      src, s"$dir/checkpoint", trigger = Trigger.ProcessingTime(TriggerMs))
    def awaitFiles(n: Int, deadlineMs: Long): Boolean = {
      while (committed.size < n && System.currentTimeMillis() < deadlineMs &&
          query.exception.isEmpty) Thread.sleep(20)
      committed.size >= n
    }
    awaitFiles(backlogFiles, startMs + 120000)
    val backlogEndMs = (0 until backlogFiles).flatMap(committed.get).maxOption
      .getOrElse(System.currentTimeMillis())
    trace.foreach(_.end())

    // steady phase: open loop at `rate` files per second
    val steadyStart = System.currentTimeMillis()
    val endMs = steadyStart + (seconds * 1000).toLong
    val lags = mutable.ArrayBuffer[Double]()
    val due = mutable.ArrayBuffer[Long]()
    val midMs = steadyStart + (endMs - steadyStart) / 2
    var next = backlogFiles
    var traceOpen = false
    def dueMs(i: Int): Long = steadyStart + ((i - backlogFiles) * 1000 / rate).toLong
    while (next < nFiles && dueMs(next) < endMs) {
      val d = dueMs(next)
      if (!traceOpen && d >= midMs) trace.foreach { t => t.begin(spark); traceOpen = true }
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      offer(next)
      due += d
      lags += (offeredAt.last - d) / 1e3
      next += 1
    }
    val drained = awaitFiles(next, System.currentTimeMillis() + 60000)
    val stopMs = System.currentTimeMillis()
    if (traceOpen) trace.foreach(_.end())
    // every offered file is in: the stream's state is at its largest
    val liveMb = mutable.ArrayBuffer(LiveMemory.mb(spark.sparkContext))
    query.stop()
    ListenerBusDrain(spark.sparkContext)
    spark.streams.removeListener(listener)
    val streamError = query.exception.map(_.getClass.getName)

    val done = committed
    val latencies = due.indices.flatMap(j => done.get(backlogFiles + j).map(end => (end - due(j)) / 1e3))
    val filesPerBatch = fileBatches.groupBy(_._2).map { case (b, fs) => b -> fs.size }
    val steady = batches.toSeq.filter(_._2._1 >= backlogEndMs)
    // change files waiting when each steady micro-batch started
    val waiting = steady.map { case (_, (start, _)) =>
      (offeredAt.count(_ <= start) - done.values.count(_ <= start)).toDouble
    }
    def batchMs(traced: Boolean): Seq[Double] = steady.collect {
      case (_, (start, end)) if (start >= midMs) == traced => (end - start).toDouble
    }
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val t0 = now
    val dest = s"${src}_settled"
    IngestStream.settleSearchUpserts(spark, src, dest, s"$dir/settled", s"$dir/settled_doclens")
    val settleS = (now - t0) / 1e9
    val t1 = now
    val served = probe(dest).collect()
    val probeS = (now - t1) / 1e9
    trace.foreach(_.record(Span(0, "settle", dest, t0, t1)))
    trace.foreach(_.record(Span(0, "probe", dest, t1, now)))
    liveMb += LiveMemory.mb(spark.sparkContext)

    val c0 = now
    val mismatches = check(dest, next, served)
    val checkS = (now - c0) / 1e9
    Map(
      "setup_reps_s" -> setups.map(_._2),
      "warmup_s" -> warmUpS,
      "stream_s" -> ((System.currentTimeMillis() - startMs) / 1e3 - settleS - probeS - checkS),
      "check_s" -> checkS,
      "backlog_changes" -> backlogFiles * ChangesPerFile,
      "backlog_drain_s" -> (backlogEndMs - startMs) / 1e3,
      "offered_files" -> next,
      "steady_files" -> due.size,
      "drained" -> drained,
      "stream_error" -> streamError,
      "latencies_s" -> latencies,
      "batches" -> batches.toSeq.map { case (b, (start, end)) => Map("id" -> b,
        "start_ms" -> start, "end_ms" -> end, "files" -> filesPerBatch.getOrElse(b, 0)) },
      "settle_s" -> settleS,
      "probe_s" -> probeS,
      "check_mismatches" -> mismatches,
      "traced_s" -> ((backlogEndMs - startMs) + (stopMs - midMs)) / 1e3,
      "trigger_ms_untraced" -> batchMs(traced = false),
      "trigger_ms_traced" -> batchMs(traced = true),
      "live_mb" -> liveMb,
      "layers" -> trace.fold(Map.empty[String, Double])(_.totals ++ Map(
        "settle_s" -> settleS, "probe_s" -> probeS, "gen.lag_s" -> mean(lags),
        "stream.rows_per_batch" -> mean(filesPerBatch.values.map(_.toDouble * ChangesPerFile)),
        "stream.backlog_files" -> mean(waiting),
        // no SparkEntry constructors or epoch indexes in this workload
        "entry.build_s" -> 0.0, "epoch.builds" -> 0.0, "epoch.build_s" -> 0.0)))
  }

  private def probe(table: String): DataFrame =
    SearchOps.searchBm25(spark, table, Seq("spark", "vector", "window"), 10)

  /** Names of the parts of the settled generation that differ from a batch
    * build over the corpus the offered change log implies. */
  private def check(dest: String, offeredFiles: Int, served: Array[org.apache.spark.sql.Row])
      : Seq[String] = {
    val docs = mutable.Map[Long, String](base: _*)
    for (f <- changeLog.take(offeredFiles); c <- f) c.statement match {
      case "DELETE" => docs.remove(c.docId)
      case _ => docs(c.docId) = c.text
    }
    val expected = s"perfbench_expected_$uuid"
    SearchOps.writeSearchIndex(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
      expected, s"$work/expected/index")
    SearchOps.writeDocLengths(spark, expected, s"$work/expected/doclens")
    def same(a: DataFrame, b: DataFrame): Boolean = {
      val cols = a.columns.sorted.map(col)
      a.columns.sorted.sameElements(b.columns.sorted) && {
        val (x, y) = (a.select(cols: _*), b.select(cols: _*))
        x.exceptAll(y).union(y.exceptAll(x)).isEmpty
      }
    }
    Seq("postings" -> "", "doclens" -> "_doclens").collect {
      case (name, suffix) if !same(spark.table(dest + suffix), spark.table(expected + suffix)) => name
    } ++ (if (served.toSeq.map(_.toString) == probe(expected).collect().toSeq.map(_.toString)) Nil
          else Seq("probe"))
  }
}

object CdcFeed {
  val ChangesPerFile = 100
  val FilesPerTrigger = 10
  val TriggerMs = 250L
  val WarmUpPages = 3
}
