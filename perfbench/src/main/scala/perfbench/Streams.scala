package perfbench

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.kinesis.{KinesisBatchSink, KinesisRegistry}
import graft.streaming._

/** Shared pieces of the two streaming workloads. */
object StreamRun {
  val ClientName = "perfbench"

  def install(): Unit = KinesisRegistry.clients.put(ClientName, new BenchKinesis.Client)

  /** Seconds from `startMs` to the end of the first micro-batch that read
    * rows, from the query's own progress reports. */
  def firstBatchS(q: StreamingQuery, startMs: Long): Double =
    q.recentProgress.find(_.numInputRows > 0).map { p =>
      val end = Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
      (end - startMs) / 1e3
    }.getOrElse(0.0)

  def kinesisLayer: Map[String, Double] = {
    import BenchKinesis.Counters.get
    val gets = get("get_records.calls").toDouble
    val puts = get("put_records.calls").toDouble
    Map(
      "kinesis.get_records.calls" -> gets,
      "kinesis.get_records.ms" -> get("get_records.ns") / 1e6,
      "kinesis.records_per_get" -> (if (gets > 0) get("get_records.records") / gets else 0.0),
      "kinesis.empty_get_frac" -> (if (gets > 0) get("get_records.empty") / gets else 0.0),
      "kinesis.sequence_after.calls" -> get("sequence_after.calls").toDouble,
      "kinesis.list_shards.calls" -> get("list_shards.calls").toDouble,
      "kinesis.get_shard_iterator.calls" -> get("get_shard_iterator.calls").toDouble,
      "kinesis.put_records.calls" -> puts,
      "kinesis.put_records.ms" -> get("put_records.ns") / 1e6,
      "kinesis.put_records.records_per_call" ->
        (if (puts > 0) get("put_records.records") / puts else 0.0),
      "saver.set.calls" -> get("saver.set.calls").toDouble,
      "saver.del.calls" -> get("saver.del.calls").toDouble,
      "saver.set_ms" -> get("saver.set.ns") / 1e6)
  }

  def traceLayer(spark: SparkSession, l: LayerListeners, wallS: Double): Map[String, Double] = {
    l.drain()
    val self = Trace.selfSeconds
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
      "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb")
      .map(k => k -> Trace.get(k)).toMap ++
      LayerListeners.microbatch(l.progress.asScala.toSeq) ++ Map(
        "spark.parallel_frac" ->
          Trace.get("spark.task_s") / (wallS * spark.sparkContext.defaultParallelism),
        "spark.peak_exec_mem_mb" -> l.peakExecMemMb,
        "self.kinesis_s" -> self.filter(_._1.startsWith("kinesis.")).values.sum,
        "self.saver_s" -> self.filter(_._1.startsWith("saver.")).values.sum)
  }
}

/** Per-shard view of what the consumer's handler was given. */
object Handled {
  final class Seen { var n = 0L; var last = -1L; var bytes = 0L; var disorder = 0L }
  val seen: TrieMap[(String, String), Seen] = TrieMap.empty

  def see(r: KinesisRecord): Unit = {
    val s = seen.getOrElseUpdate((r.streamName, r.shardId), new Seen)
    s.synchronized {
      val q = r.sequenceNumber.toLong
      if (q <= s.last) s.disorder += 1
      s.last = q; s.n += 1; s.bytes += r.data.length
    }
  }
}

/** stream-backfill: a pre-loaded stream (8 shards, Zipf partition keys,
  * payloads of 50-500 bytes, one split reshard part-way) is drained by
  * `GraftConsumer.availableNow()` with a counting handler and a saver.
  * Closed loop: after one untimed warm-up drain, fresh streams drawn
  * from the seed are drained one after the other until the measuring
  * time is used up. */
object Backfill {
  val Records = 40000
  val WarmUpRecords = 5000
  val Shards = 8
  val Keys = 5000
  val FetchPerBatch = 10000

  final case class Load(keys: Array[String], data: Array[Array[Byte]], splitAt: Int, splitShard: Int)

  def generate(seed: Long, records: Int): Load = {
    val rnd = new scala.util.Random(seed)
    // Zipf(1.1) over Keys partition keys, by inverse CDF.
    val w = Array.tabulate(Keys)(k => 1.0 / math.pow(k + 1, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    val keys = Array.fill(records) {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"pk-${if (i >= 0) i else math.min(Keys - 1, -(i + 1))}"
    }
    val data = Array.fill(records) {
      val b = new Array[Byte](50 + rnd.nextInt(451))
      var k = 0
      while (k < b.length) { b(k) = ('a' + rnd.nextInt(26)).toByte; k += 1 }
      b
    }
    // The split lands at a seeded point, on the shard the hottest key
    // routes to, as a real reshard would.
    Load(keys, data, records * 3 / 10 + rnd.nextInt(records * 4 / 10),
      math.floorMod("pk-0".hashCode, Shards))
  }

  /** One drain: (wall seconds, first-batch seconds, batch durations in
    * ms, records or shards found wrong). */
  private def drain(spark: SparkSession, name: String, load: Load, work: String,
      problems: mutable.ArrayBuffer[String]): (Double, Double, Seq[Double], Long) = {
    val st = fill(name, load)
    val saver = new CountingSaver(new InMemorySequenceSaver)
    KinesisRegistry.savers.put(name, saver)
    Handled.seen.clear()
    Trace.op = name
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val consumer = GraftConsumer(GraftOption(streamName = name))
      .availableNow()
      .handle(r => Handled.see(r))
      .setSaver(saver)
      .checkpointLocation(s"$work/checkpoints/$name")
    val q = consumer.start(spark, Map("clientName" -> StreamRun.ClientName,
      "saverName" -> name, "maxRecordsPerFetch" -> FetchPerBatch.toString))
    if (!q.awaitTermination(120000)) { consumer.shutdown(10.seconds); sys.error(s"$name did not drain") }
    q.exception.foreach(e => throw e)
    val wall = (System.nanoTime() - t0) / 1e9
    val batches = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(_.durationMs.get("triggerExecution").doubleValue)
    val bad = check(st, saver, problems)
    KinesisRegistry.savers.remove(name)
    BenchKinesis.drop(name)
    (wall, StreamRun.firstBatchS(q, startMs), batches, bad)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      listeners: Option[LayerListeners]): Outcome = {
    StreamRun.install()
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = drain(spark, "backfill-warm-up", generate(seed, WarmUpRecords), work, problems)._4
    BenchKinesis.Counters.reset()
    listeners.foreach(_.reset())
    val drains = mutable.ArrayBuffer.empty[(Double, Double, Seq[Double], Long)]
    while (drains.map(_._1).sum < seconds) {
      val d = drain(spark, s"backfill-${drains.size + 1}",
        generate(seed * 1000 + drains.size + 1, Records), work, problems)
      drains += d
      failed += d._4
    }
    val wall = drains.map(_._1).sum
    val batchMs = drains.flatMap(_._3).toSeq
    val e2e = Map(
      "ingest_s" -> Stats.quantile(drains.map(_._2).toSeq, 0.5),
      "ops_per_s" -> drains.size * Records / wall,
      "op_p50_ms" -> Stats.quantile(batchMs, 0.5),
      "op_tail_ms" -> Stats.quantile(batchMs, 0.9))
    val layer = listeners.map(l => StreamRun.traceLayer(spark, l, wall) ++ StreamRun.kinesisLayer)
      .getOrElse(Map.empty)
    Outcome(WarmUpRecords + drains.size.toLong * Records, failed, e2e, layer, problems.toSeq)
  }

  private def fill(name: String, load: Load): BenchKinesis.Stream = {
    val st = BenchKinesis.create(name, Shards)
    var k = 0
    while (k < load.keys.length) {
      if (k == load.splitAt) BenchKinesis.split(st, f"shardId-${load.splitShard}%012d")
      BenchKinesis.append(st, load.keys(k), load.data(k))
      k += 1
    }
    st
  }

  /** Every record handled once and in shard order; the saver ends at
    * each open shard's last sequence and no longer holds the drained
    * split parent. Returns the number of records (or shards) wrong. */
  private def check(st: BenchKinesis.Stream, saver: SequenceSaver,
      problems: mutable.ArrayBuffer[String]): Long = {
    var bad = 0L
    st.shards.foreach { sh =>
      val n = sh.size
      val seen = Handled.seen.get((st.name, sh.id))
      val got = seen.map(_.n).getOrElse(0L)
      val disorder = seen.map(_.disorder).getOrElse(0L)
      val bytes = seen.map(_.bytes).getOrElse(0L)
      if (got != n || disorder > 0 || bytes != sh.bytes) {
        problems += s"${st.name}/${sh.id}: handled $got of $n records ($bytes of ${sh.bytes} " +
          s"bytes), $disorder out of order"
        bad += math.max(1L, math.abs(got - n) + disorder)
      }
      val saved = saver.get(st.name, sh.id)
      val want = if (sh.closed || n == 0) None else Some(sh.seqAt(n - 1))
      if (saved != want) {
        problems += s"${st.name}/${sh.id}: saver holds $saved, expected $want"
        bad += 1
      }
    }
    bad
  }
}

/** stream-relay: open loop. One generator thread appends to stream A on
  * a fixed schedule, first at the low rate and then at the high rate,
  * with 10% of records sent twice. graft relays A through the
  * kinesis-graft source, `StreamOps.dedupWithinWatermark` and
  * `KinesisBatchSink` into stream B. Each record carries the time it was
  * due; its latency is the time from then to its append on B. */
object Relay {
  val Low = 2000
  val High = 16000
  val Shards = 4
  val DupFrac = 0.1
  val TriggerMs = 100L
  val WarmS = 1.5
  val LimitMs = 1000.0

  final class Step(val rate: Int) {
    @volatile var fromNs = 0L
    @volatile var untilNs = 0L
    var sent = 0L
    var backlogStart = 0L
    var backlogEnd = 0L
  }

  /** A relay from stream `a` to stream `b`, with what arrives on `b`:
    * copies per record id, and (due time, latency) per record, in ns. */
  final class Pipe(spark: SparkSession, val a: BenchKinesis.Stream, val b: BenchKinesis.Stream,
      work: String) {
    val copies: TrieMap[Long, Int] = TrieMap.empty
    val lat = new ConcurrentLinkedQueue[Array[Long]]()
    b.onAppend = (r, nowNs) => {
      val f = new String(r.data, StandardCharsets.US_ASCII).split('|')
      copies.updateWith(f(0).toLong)(c => Some(c.getOrElse(0) + 1))
      lat.add(Array(f(1).toLong, nowNs - f(1).toLong))
    }
    val startMs: Long = System.currentTimeMillis()
    val query: StreamingQuery = {
      val src = spark.readStream.format("kinesis-graft")
        .option("streamName", a.name).option("clientName", StreamRun.ClientName)
        .option("maxRecordsPerFetch", "200000").load()
      val parsed = src.select(col("data"), col("partitionKey"),
        split(col("data").cast("string"), "\\|").as("f"))
        .select(col("data"), col("partitionKey"), col("f")(0).cast("long").as("id"),
          timestamp_millis(col("f")(2).cast("long")).as("ts"))
      StreamOps.dedupWithinWatermark(parsed, "ts", "10 seconds", Seq("id"))
        .select("data", "partitionKey").writeStream
        .foreach(new KinesisBatchSink(b.name, StreamRun.ClientName))
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .option("checkpointLocation", s"$work/checkpoints/${a.name}")
        .start()
    }

    /** Waits until every distinct record sent reached `b`, then stops.
      * Returns the number of records missing or delivered twice. */
    def finish(gen: Generator, problems: mutable.ArrayBuffer[String]): Long = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (copies.size < gen.ids.size && System.nanoTime() < deadline && query.isActive)
        Thread.sleep(20)
      Thread.sleep(300)
      query.stop()
      query.exception.foreach(e => throw e)
      BenchKinesis.drop(a.name)
      BenchKinesis.drop(b.name)
      val missing = gen.ids.count(id => !copies.contains(id)).toLong
      val extra = copies.values.map(c => math.max(0, c - 1).toLong).sum +
        copies.keys.count(id => !gen.ids.contains(id))
      if (missing > 0 || extra > 0)
        problems += s"${b.name}: $missing of ${gen.ids.size} distinct records missing, " +
          s"$extra extra copies"
      missing + extra
    }
  }

  private def pipe(spark: SparkSession, name: String, work: String): Pipe =
    new Pipe(spark, BenchKinesis.create(s"$name-a", Shards), BenchKinesis.create(s"$name-b", Shards), work)

  def run(spark: SparkSession, seed: Long, seconds: Double, work: String,
      listeners: Option[LayerListeners]): Outcome = {
    StreamRun.install()
    val problems = mutable.ArrayBuffer.empty[String]
    Trace.op = "relay-warm-up"
    // A warm-up relay, so the measured one starts warm. Its start, the
    // first of the process, is the one `ingest_s` reports.
    val warm = pipe(spark, "relay-warm-up", work)
    val warmGen = new Generator(warm.a, seed + 1)
    warmGen.runAt(Low, WarmS, None)
    var failed = warm.finish(warmGen, problems)
    val firstBatchS = StreamRun.firstBatchS(warm.query, warm.startMs)
    BenchKinesis.Counters.reset()
    listeners.foreach(_.reset())

    Trace.op = "relay"
    val p = pipe(spark, "relay", work)
    val half = seconds / 2
    val low = new Step(Low)
    val high = new Step(High)
    val gen = new Generator(p.a, seed)
    val t = new Thread(() => {
      gen.runAt(Low, 1.0, None)
      gen.runAt(Low, half, Some(low))
      gen.runAt(High, 1.0, None)
      gen.runAt(High, half, Some(high))
    }, "perfbench-generator")
    t.start()
    t.join()
    failed += p.finish(gen, problems)

    val samples = p.lat.asScala.toSeq
    def latencies(s: Step): Seq[Double] =
      samples.filter(x => x(0) >= s.fromNs && x(0) < s.untilNs).map(_(1) / 1e6)
    def pct(s: Step, q: Double): Double = Stats.quantile(latencies(s), q)
    val lateP99 = Stats.quantile(gen.late.toSeq.map(_ / 1e6), 0.99)
    def sustained(s: Step): Boolean =
      s.backlogEnd - s.backlogStart <= s.rate / 2 && pct(s, 0.99) <= LimitMs && lateP99 <= 100
    // Records offered in the step over the time until the last of them
    // had reached stream B.
    def delivered(s: Step): Double = {
      val landed = samples.filter(x => x(0) >= s.fromNs && x(0) < s.untilNs).map(x => x(0) + x(1))
      if (landed.isEmpty) 0.0 else s.sent / ((landed.max - s.fromNs) / 1e9)
    }
    val sustainedRps = Seq(high, low).find(sustained).map(delivered).getOrElse(0.0)

    val e2e = Map(
      "ingest_s" -> firstBatchS,
      "ops_per_s" -> sustainedRps,
      "op_p50_ms" -> pct(low, 0.5),
      "op_tail_ms" -> pct(high, 0.99))
    val layer = listeners.map { l =>
      StreamRun.traceLayer(spark, l, seconds + 2.0) ++ StreamRun.kinesisLayer ++ Map(
        "bench.gen_late_ms_p99" -> lateP99,
        "bench.backlog_records.low" -> low.backlogEnd.toDouble,
        "bench.backlog_records.high" -> high.backlogEnd.toDouble,
        "relay.low.p99_ms" -> pct(low, 0.99),
        "relay.high.p50_ms" -> pct(high, 0.5))
    }.getOrElse(Map.empty)
    Outcome(warmGen.sent + gen.sent, failed, e2e, layer, problems.toSeq)
  }

  /** Appends to stream A on a fixed schedule; never slows down when the
    * relay does. A duplicate repeats a record sent shortly before. */
  final class Generator(a: BenchKinesis.Stream, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val recent = new Array[Array[Byte]](256)
    private val recentKeys = new Array[String](256)
    private var nextId = 0L
    var sent = 0L
    val ids: mutable.HashSet[Long] = mutable.HashSet.empty
    def distinct: Int = ids.size
    val late: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
    private val pad = "x" * 64

    def runAt(rate: Int, seconds: Double, step: Option[Step]): Unit = {
      val n = (rate * seconds).toLong
      val t0 = System.nanoTime()
      step.foreach { s => s.fromNs = t0; s.backlogStart = BenchKinesis.backlog(a) }
      var k = 0L
      while (k < n) {
        val due = t0 + (k * 1e9 / rate).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        if (nextId > 0 && rnd.nextDouble() < DupFrac) {
          val j = rnd.nextInt(math.min(nextId, recent.length).toInt)
          BenchKinesis.append(a, recentKeys(j), recent(j))
        } else {
          val id = nextId
          nextId += 1
          ids += id
          val key = s"k${rnd.nextInt(1000)}"
          val data = s"$id|$due|${System.currentTimeMillis()}|$pad".getBytes(StandardCharsets.US_ASCII)
          BenchKinesis.append(a, key, data)
          val slot = (id % recent.length).toInt
          recent(slot) = data; recentKeys(slot) = key
        }
        late += System.nanoTime() - due
        sent += 1
        step.foreach(_.sent += 1)
        k += 1
      }
      step.foreach { s => s.untilNs = t0 + (n * 1e9 / rate).toLong; s.backlogEnd = BenchKinesis.backlog(a) }
    }
  }
}
