package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchHooks
import org.apache.spark.sql.SparkSession

/** What one workload run measured. `e2e` holds the end-to-end metrics,
  * `layer` the per-layer ones (filled only when tracing is on). */
case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layer: Map[String, Double], problems: Seq[String])

object Stats {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Spark session set-up shared by all workloads: `local[cores]` with
  * shuffle partitions pinned to the core count, UTC, no UI, and every
  * temporary directory under the run's work directory. */
object Session {
  def build(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Inter-query isolation, outside the timed window: a GC lets Spark's
  * ContextCleaner release the previous query's broadcasts, shuffles and
  * cached blocks; the wait ends once the cleaner has gone quiet, not
  * after a fixed sleep. */
class Reap(spark: SparkSession) {
  @volatile private var lastCleanNs = 0L
  PerfbenchHooks.onCleanup(spark.sparkContext)(() => lastCleanNs = System.nanoTime())

  def apply(): Unit = {
    val t0 = System.nanoTime()
    System.gc()
    def quietFor = System.nanoTime() - math.max(lastCleanNs, t0)
    while (quietFor < Reap.QuietNs && System.nanoTime() - t0 < Reap.CapNs) Thread.sleep(5)
  }
}

object Reap {
  val QuietNs: Long = 40L * 1000 * 1000
  val CapNs: Long = 2L * 1000 * 1000 * 1000
}

object Main {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on stderr, in seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("dump-oracles")) return dumpOracles(opts("dump-oracles"))
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    Trace.on = opts.get("trace").contains("1")

    val (spark, setupS) = Setup.run(workload, work, cores, opts("data"))
    log(f"set-up done ($setupS%.3f s median)")
    val listeners = if (Trace.on) Some(new LayerListeners(spark)) else None
    val out = workload match {
      case "batch" => Batch.run(spark, seed, opts("data"), opts("expected"), listeners)
      case "stream-backfill" => Backfill.run(spark, seed, seconds, work, listeners)
      case "stream-relay" => Relay.run(spark, seed, seconds, work, listeners)
    }
    log("workload done")
    listeners.foreach(_ => Trace.write(s"$work/trace-$workload-$seed.jsonl"))
    spark.stop()
    log("session stopped")

    val om = new ObjectMapper()
    val res = om.createObjectNode()
    res.put("attempted", out.attempted)
    res.put("failed", out.failed)
    val e2e = res.putObject("e2e")
    (out.e2e + ("setup_s" -> setupS)).foreach { case (k, v) => e2e.put(k, v) }
    val layer = res.putObject("layer")
    out.layer.foreach { case (k, v) => layer.put(k, v) }
    val probs = res.putArray("problems")
    out.problems.take(50).foreach(probs.add)
    println(om.writeValueAsString(res))
  }

  /** Writes graft's DuckDB oracle SQL, by query name, as JSON. */
  private def dumpOracles(path: String): Unit = {
    val om = new ObjectMapper()
    Files.write(Paths.get(path), om.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(graft.SparkEntry.oracleSql.asJava))
  }
}

/** Set-up, timed `Setups` times per run and reported as the median: a
  * fresh Spark session, the workload's input tables opened, and one
  * generic warm-up query. The first set-up is measured from JVM start,
  * so it also carries class loading. The last session is kept. */
object Setup {
  val Setups = 3

  def run(workload: String, work: String, cores: Int, data: String): (SparkSession, Double) = {
    var spark: SparkSession = null
    val times = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val sinceJvmStartNs = (System.currentTimeMillis() - Main.jvmStartMs) * 1000000L
      val t0 = if (i == 1) System.nanoTime() - sinceJvmStartNs else System.nanoTime()
      spark = Session.build(work, cores)
      warmUp(spark, workload, data)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, Stats.quantile(times, 0.5))
  }

  private def warmUp(spark: SparkSession, workload: String, data: String): Unit =
    if (workload == "batch") {
      Batch.tables.foreach(t => graft.Tables.t(spark, data, t).schema)
      graft.Tables.lineitem(spark, data).groupBy("l_returnflag").count().collect()
    } else {
      spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("id % 7 AS k").groupBy("k").count().collect()
    }
}
