package graft.perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The benchmark's JVM: runs one workload and writes its raw record (samples,
  * set-up times, verification dumps, per-layer counters) as JSON; `run.py`
  * turns the record into the reported metrics.
  *
  *   --workload index_lifecycle|cdc_feed --seed N --seconds S
  *   --trace 0|1 --data DIR --work DIR --out FILE --cores N
  *   [--entries a,b,c --min-passes N]
  *   [--setup-reps N --backlog-files N --rate FILES_PER_S] [--spans FILE]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    val cores = o("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    // the tracing listeners exist only in a traced run
    val trace = if (o("trace") == "1") Some(new Trace(spark)) else None
    val (seed, seconds) = (o("seed").toLong, o("seconds").toDouble)
    val record = o("workload") match {
      case "cdc_feed" =>
        new CdcFeed(spark, o("data"), work, seed, seconds, trace,
          o("setup-reps").toInt, o("backlog-files").toInt, o("rate").toDouble).run()
      case _ =>
        val entries = o("entries").split(',').toSeq
        val verifyDir = s"$work/verify"
        Files.createDirectories(Paths.get(verifyDir))
        Files.writeString(Paths.get(verifyDir, "oracle_sql.json"), Json.render(
          entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> _)).toMap))
        new QueryLoop(spark, entries, o("data"), seed, seconds, trace, verifyDir,
          o("min-passes").toInt).run()
    }
    for (t <- trace; path <- o.get("spans")) t.writeSpans(path)
    Files.writeString(Paths.get(o("out")), Json.render(record ++ Map("session_s" -> sessionS)))
    spark.stop()
  }
}

/** The memory the program holds: heap in use after a full collection, plus
  * non-heap memory (metaspace, code cache) and direct and mapped buffers in
  * use, in MB. Unlike the resident set under a fixed heap, it does not
  * depend on how much of the heap the collector cycled through. */
object LiveMemory {
  def mb(sc: SparkContext): Double = {
    // events still queued for the listeners are not the program's state;
    // the first collection queues what Spark's cleaner should free (cached
    // blocks and broadcasts nothing refers to), the cleaner frees it on its
    // own thread, and the second collection reclaims it
    ListenerBusDrain(sc)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }
}
