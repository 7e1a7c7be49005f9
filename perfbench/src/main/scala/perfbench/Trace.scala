package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchHooks
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters for the traced run. Everything is
  * JVM-static: client and saver wrappers are serialized into Spark
  * tasks, which in local mode run in this JVM and record here.
  *
  * With tracing off, `span` runs its body and records nothing, and no
  * listener is installed.
  */
object Trace {
  @volatile var on: Boolean = false

  /** The operation (query name or micro-batch) spans are attributed to. */
  @volatile var op: String = ""

  final case class Span(id: Long, parent: Long, op: String, name: String,
      startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val sums = TrieMap.empty[String, DoubleAdder]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), op, name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def add(name: String, v: Double): Unit =
    if (on) sums.getOrElseUpdate(name, new DoubleAdder).add(v)

  def get(name: String): Double = sums.get(name).map(_.sum()).getOrElse(0.0)

  def reset(): Unit = { spans.clear(); sums.clear() }

  def allSums: Map[String, Double] = sums.map { case (k, v) => k -> v.sum() }.toMap

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Seconds each span name spent outside its child spans, summed. */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    all.groupMapReduce(_.name) { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
          if (b <= end) (acc, end)
          else (acc + b - math.max(a, end), b)
        }._1
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  /** All spans as JSON lines, for reading after the run. */
  def write(path: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val lines = allSpans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Listener-fed per-layer counts of the traced run. Jobs carry the
  * operation they belong to as a local property, so scheduler and
  * shuffle figures can be split by query module and ingest call.
  */
class LayerListeners(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val peakMem = new AtomicLong(0)
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerListeners.OpKey))).getOrElse("")

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Trace.add("spark.jobs", 1)
      Trace.add(s"jobs:${opOf(e.properties)}", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      Trace.add("spark.tasks", 1)
      Trace.add("spark.task_s", m.executorRunTime / 1e3)
      Trace.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      Trace.add("spark.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      Trace.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.toString.contains("perfbench-digest")) {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { ph =>
          phases.get(ph).foreach(s => Trace.add(s"catalyst.${ph}_s", s.durationMs / 1e3))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(scheduler)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(streaming)

  def peakExecMemMb: Double = peakMem.get() / 1e6

  def drain(): Unit = PerfbenchHooks.drainListenerBus(sc)

  /** Forgets everything recorded so far, e.g. during a warm-up. */
  def reset(): Unit = { drain(); Trace.reset(); progress.clear(); peakMem.set(0) }

  def jobsOf(prefix: String): Double =
    Trace.allSums.collect { case (k, v) if k.startsWith(s"jobs:$prefix") => v }.sum
}

object LayerListeners {
  val OpKey = "perfbench.op"

  /** Median of the micro-batch progress figures, by name. */
  def microbatch(events: Seq[StreamingQueryListener.QueryProgressEvent]): Map[String, Double] = {
    val ps = events.map(_.progress).filter(_.numInputRows > 0)
    def med(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
    val dur = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .map(k => s"microbatch.${k}_ms" ->
        med(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))))
    val states = ps.flatMap(_.stateOperators.toSeq)
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Map(
      "microbatch.batches" -> ps.size.toDouble,
      "microbatch.rows_per_batch" -> med(ps.map(_.numInputRows.toDouble)),
      "state.rows_total" -> last.map(_.numRowsTotal.toDouble).sum,
      "state.memory_mb" -> last.map(_.memoryUsedBytes / 1e6).sum,
      "state.commit_ms" -> med(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "state.rows_dropped_by_watermark" -> states.map(_.numRowsDroppedByWatermark.toDouble).sum
    ) ++ dur
  }
}
