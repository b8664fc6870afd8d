package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import graft.{EpochRegistry, SparkEntry}

/** Materializes a result completely and returns (rows, multiset hash).
  *
  * The executed plan runs as one SQL execution, so the final sort and every
  * column are computed (unlike `count()`, which lets the optimizer prune
  * both), and each row's bytes are hashed where they are produced. The hash
  * is a sum over rows, so it does not depend on partitioning. */
object Digest {
  def apply(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { rows =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { r =>
          val u = toUnsafe(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator.single((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** The closed-loop query workload (`index_lifecycle`): one client runs the
  * workload's `SparkEntry` entries back to back, in a seeded order per pass,
  * every pass in a new session, so every epoch index the entries use is
  * rebuilt in the pass.
  *
  *  - set-up: a cold pass writes every entry's result once for the DuckDB
  *    oracle, and its digest becomes the reference for the timed passes;
  *    then one untimed warm-up pass;
  *  - timed passes until `seconds` have passed (at least `minPasses`),
  *    each sample = constructor call + planning + full materialization.
  *    A thrown entry or a digest that differs from the verified one is a
  *    failure and adds no sample. After the last pass, outside its time,
  *    the live memory is taken while that pass's session is still held.
  *
  * In a traced run every second pass is traced; the others run without the
  * tracing listeners and give the pass time the tracing overhead is
  * measured against. */
final class QueryLoop(spark: SparkSession, entries: Seq[String], dataDir: String,
    seed: Long, seconds: Double, trace: Option[Trace], verifyDir: String, minPasses: Int) {

  private val fns = entries.map(e => e -> SparkEntry.queries.getOrElse(e,
    throw new IllegalArgumentException(s"unknown entry $e"))).toMap

  private def order(pass: Long): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(entries.sorted)

  private def now: Long = System.nanoTime()

  private def epochs(s: SparkSession): Int =
    EpochRegistry.liveEntries(EpochRegistry.idOf(s)).size

  def run(): Map[String, Any] = {
    // cold pass: every entry's result is written once for the oracle, and
    // the digest of what was written is the reference of the timed passes
    val c0 = now
    val reference = mutable.Map[String, (Long, Long)]()
    val verifyErrors = mutable.Map[String, String]()
    val cold = spark.newSession()
    for (e <- order(-1)) {
      try {
        fns(e)(cold, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/$e")
        reference(e) = Digest(spark.read.parquet(s"$verifyDir/$e"))
      } catch { case t: Throwable => verifyErrors(e) = t.getClass.getName }
    }
    val coldS = (now - c0) / 1e9
    // warm-up pass, run as a timed one is: the JIT compiler is still busy
    // after the cold pass, and timing its work would measure its pace
    val w0 = now
    val warm = spark.newSession()
    order(-2).foreach(e => scala.util.Try(Digest(fns(e)(warm, dataDir))))
    val warmS = (now - w0) / 1e9

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val layerPasses = mutable.ArrayBuffer[Map[String, Double]]()
    val liveMb = mutable.ArrayBuffer[Double]()
    val start = now
    var pass = 0
    // a traced run also needs an untraced pass to measure the overhead against
    def enough: Boolean = (now - start) / 1e9 >= seconds && pass >= minPasses &&
      (trace.isEmpty || pass >= 2)
    var done = false
    while (!done) {
      val p0 = now
      val s = spark.newSession()
      val tr = trace.filter(_ => pass % 2 == 1)
      tr.foreach { t => t.reset(); t.begin(s) }
      val epochs0 = epochs(s)
      val created = mutable.ArrayBuffer[(String, Double)]()
      val gaps = mutable.ArrayBuffer[Double]()
      val spanSums = mutable.Map[String, Double]().withDefaultValue(0.0)
      var last = now
      for (e <- order(pass)) {
        val id = tr.fold(0L)(_.newId())
        val t0 = now
        gaps += (t0 - last) / 1e9
        val e0 = epochs(s)
        var phase = now
        // one span per layer call, all sharing the execution's id
        def step[T](kind: String)(body: => T): T = {
          val v = body
          val t = now
          tr.foreach(_.record(Span(id, kind, e, phase, t)))
          spanSums(kind) += (t - phase) / 1e9
          phase = t
          v
        }
        val outcome = try {
          val df = step("constructor")(fns(e)(s, dataDir))
          step("plan")(df.queryExecution.executedPlan)
          val d = step("execute")(Digest(df))
          step("verify")(if (reference.get(e).contains(d)) "ok" else "wrong")
        } catch { case t: Throwable => t.getClass.getName }
        last = now
        val wall = (last - t0) / 1e9
        if (epochs(s) > e0) created += e -> wall
        ops += Map("entry" -> e, "pass" -> pass, "wall_s" -> wall, "outcome" -> outcome,
          "traced" -> tr.nonEmpty)
      }
      val wall = (now - p0) / 1e9
      tr.foreach { t =>
        t.end()
        // epoch build time: the entries that built epochs, re-run once the
        // epochs exist; the difference is the building
        val rerun = created.map { case (e, _) =>
          val t0 = now
          scala.util.Try(Digest(fns(e)(s, dataDir)))
          (now - t0) / 1e9
        }
        layerPasses += t.totals ++ Map(
          "entry.build_s" -> spanSums("constructor"),
          "epoch.builds" -> (epochs(s) - epochs0).toDouble,
          "epoch.build_s" -> math.max(0.0, created.map(_._2).sum - rerun.sum),
          "gen.lag_s" -> gaps.drop(1).sum / math.max(1, gaps.size - 1),
          // no stream in this workload
          "stream.rows_per_batch" -> 0.0, "stream.backlog_files" -> 0.0,
          "settle_s" -> 0.0, "probe_s" -> 0.0)
      }
      passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> tr.nonEmpty)
      pass += 1
      done = enough
      if (done) liveMb += LiveMemory.mb(spark.sparkContext)
    }
    Map("cold_s" -> coldS, "warm_s" -> warmS, "ops" -> ops, "passes" -> passes,
      "verify_errors" -> verifyErrors, "layer_passes" -> layerPasses,
      "timed_s" -> (now - start) / 1e9, "live_mb" -> liveMb)
  }
}
