package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The batch workload. After the ingest artifact builds (`prepare*`),
  * a fixed subset of the queries (every `Stride`-th name of each
  * operator module, in name order) runs once, in an order drawn from the
  * seed. Each query's first execution in the session is timed: plan
  * building (`fn(spark, dir)`, which may run eager jobs) plus the write
  * of its result. The write goes to [[DigestSink]], so the timed plan is
  * the one the `noop` sink would run, and its rows are checked against
  * digests of the DuckDB oracle results.
  */
object Batch {
  type Query = (SparkSession, String) => DataFrame

  val Stride = 7

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val Modules: Seq[(String, Map[String, Query])] = Seq(
    "Relational" -> Relational.queries, "Sketch" -> Sketch.queries,
    "TextOps" -> TextOps.queries, "Dedup" -> Dedup.queries,
    "Multimodal" -> Multimodal.queries, "Pipeline" -> Pipeline.queries)

  val Ingest: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Relational.prepareStats" -> Relational.prepareStats _,
    "Dedup.prepareShingles" -> Dedup.prepareShingles _)

  /** The workload's queries as (name, module, query). */
  def queries: Seq[(String, String, Query)] =
    Modules.flatMap { case (m, qs) =>
      qs.toSeq.sortBy(_._1).zipWithIndex.collect {
        case ((n, f), i) if i % Stride == 0 => (n, m, f)
      }
    }

  def run(spark: SparkSession, seed: Long, data: String,
      expectedPath: String, listeners: Option[LayerListeners]): Outcome = {
    val expected = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(expectedPath)))
      .get("queries")
    val sc = spark.sparkContext
    val reap = new Reap(spark)
    val problems = mutable.ArrayBuffer.empty[String]

    val ingestTimes = Ingest.map { case (name, f) =>
      sc.setLocalProperty(LayerListeners.OpKey, s"ingest.$name")
      Trace.op = s"ingest.$name"
      val t0 = System.nanoTime()
      Trace.span("ingest")(f(spark, data))
      val dt = (System.nanoTime() - t0) / 1e9
      Main.log(f"ingest $name%-28s $dt%.3f s")
      name -> dt
    }

    val order = new scala.util.Random(seed).shuffle(queries)
    val times = mutable.ArrayBuffer.empty[(String, String, Double)]
    var failed = 0L
    order.foreach { case (name, module, fn) =>
      reap()
      sc.setLocalProperty(LayerListeners.OpKey, s"query.$module.$name")
      Trace.op = name
      Digest.results.remove(name)
      val t0 = System.nanoTime()
      val ok =
        try {
          Trace.span("query") {
            val df = Trace.span("operators.build")(fn(spark, data))
            // The query's plan is analyzed when its DataFrame is built;
            // the write then only optimizes and plans it.
            if (Trace.on) df.queryExecution.tracker.phases.get("analysis")
              .foreach(p => Trace.add("catalyst.analysis_s", p.durationMs / 1e3))
            Trace.span("write")(df.write.format(classOf[DigestSink].getName)
              .option("id", name).mode("overwrite").save())
          }
          true
        } catch { case e: Throwable => problems += s"$name failed: ${e.toString.take(200)}"; false }
      val dt = (System.nanoTime() - t0) / 1e9
      times += ((name, module, dt))
      Main.log(f"query $name%-28s $dt%.3f s")
      if (!ok || !matches(name, expected, problems)) failed += 1
    }
    sc.setLocalProperty(LayerListeners.OpKey, null)

    val qs = times.map(_._3).toSeq
    val batchS = qs.sum
    val e2e = Map(
      "ingest_s" -> ingestTimes.map(_._2).sum,
      "ops_per_s" -> qs.size / batchS,
      "op_p50_ms" -> Stats.quantile(qs, 0.5) * 1e3,
      "op_tail_ms" -> Stats.quantile(qs, 0.9) * 1e3)

    val layer = listeners.map { l =>
      l.drain()
      val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
      val perModule = Modules.map(_._1).flatMap { m =>
        val mine = times.filter(_._2 == m)
        Seq(s"operators.$m.s" -> mine.map(_._3).sum, s"operators.$m.jobs" -> l.jobsOf(s"query.$m."))
      }
      val perIngest = Ingest.map(_._1).flatMap { c =>
        Seq(s"ingest.${c}_s" -> ingestTimes.find(_._1 == c).map(_._2).getOrElse(0.0),
          s"ingest.$c.jobs" -> l.jobsOf(s"ingest.$c"))
      }
      val self = Trace.selfSeconds
      val spark = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
        "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s")
        .map(k => k -> Trace.get(k))
      (spark ++ perModule ++ perIngest).toMap ++ Map(
        "spark.parallel_frac" -> Trace.get("spark.task_s") /
          ((ingestTimes.map(_._2).sum + batchS) * sc.defaultParallelism),
        "spark.peak_exec_mem_mb" -> l.peakExecMemMb,
        "cache.cached_mb" -> cachedMb,
        "operators.build_s" -> Trace.allSpans.filter(_.name == "operators.build")
          .map(s => (s.endNs - s.startNs) / 1e9).sum,
        "self.query_s" -> self.getOrElse("query", 0.0),
        "self.operators_s" -> self.getOrElse("operators.build", 0.0),
        "self.write_s" -> self.getOrElse("write", 0.0),
        "self.ingest_s" -> self.getOrElse("ingest", 0.0))
    }.getOrElse(Map.empty)

    Outcome(order.size, failed, e2e, layer, problems.toSeq)
  }

  /** Row count, column names and digest against the stored oracle
    * values; a missing expectation counts as a mismatch. */
  private def matches(name: String, expected: com.fasterxml.jackson.databind.JsonNode,
      problems: mutable.ArrayBuffer[String]): Boolean = {
    val got = Digest.results.get(name)
    val exp = Option(expected.get(name))
    (got, exp) match {
      case (Some(g), Some(e)) =>
        val cols = e.get("columns").elements().asScala.map(_.asText()).toSeq
        val ok = g.columns == cols && g.rows == e.get("rows").asLong() &&
          g.hex == e.get("digest").asText()
        if (!ok) problems += s"$name: got rows=${g.rows} digest=${g.hex} cols=${g.columns.mkString(",")}"
        ok
      case (None, _) => problems += s"$name: no result digest"; false
      case (_, None) => problems += s"$name: no expected digest"; false
    }
  }
}
