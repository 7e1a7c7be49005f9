package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSuite

object HandlerSink {
  // Handler closures run in executor threads (local mode: same JVM),
  // but task closures are still SERIALIZED — captured locals become
  // copies. Statics resolve at deserialization, so observations land
  // in the original.
  val seen = new ConcurrentLinkedQueue[(String, String)]() // (shardId, seq)
  val dlq = new ConcurrentLinkedQueue[(String, String)]() // (payload, error)
  def clear(): Unit = { seen.clear(); dlq.clear() }
}

class GraftConsumerSpec extends SparkSuite {

  private def rec(shard: String, n: Int): KinesisRecord =
    KinesisRecord(
      data = s"payload-$n".getBytes("UTF-8"),
      partitionKey = s"pk-$n",
      sequenceNumber = f"$n%09d",
      approximateArrivalTimestamp = new Timestamp(1700000000000L + n * 1000L),
      streamName = "test-stream",
      shardId = shard)

  test("per-shard ordered delivery + batch-granularity checkpoint (kinesis.go:173-212, 198-201)") {
    import spark.implicits._
    HandlerSink.clear()
    val mem = MemoryStream[KinesisRecord](spark)
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .setSaver(saver)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))

    val q = consumer.run(mem.toDF())
    try {
      mem.addData(rec("shard-1", 3), rec("shard-0", 1), rec("shard-1", 1),
        rec("shard-0", 2), rec("shard-1", 2))
      q.processAllAvailable()
      // saver holds each shard's max sequence after the batch
      assert(saver.get("test-stream", "shard-0").contains(f"${2}%09d"))
      assert(saver.get("test-stream", "shard-1").contains(f"${3}%09d"))
      // per-shard order preserved
      val byShard = HandlerSink.seen.asScala.toList.groupBy(_._1)
      assert(byShard("shard-0").map(_._2) == List(f"${1}%09d", f"${2}%09d"))
      assert(byShard("shard-1").map(_._2) == List(f"${1}%09d", f"${2}%09d", f"${3}%09d"))

      // second batch advances the checkpoint (one write per non-empty batch)
      mem.addData(rec("shard-0", 7))
      q.processAllAvailable()
      assert(saver.get("test-stream", "shard-0").contains(f"${7}%09d"))
      assert(saver.get("test-stream", "shard-1").contains(f"${3}%09d"))
    } finally assert(consumer.shutdown(30.seconds))
  }

  test("skip-and-log error policy: failing record is skipped, checkpoint still advances (kinesis.go:194-201)") {
    import spark.implicits._
    HandlerSink.clear()
    val mem = MemoryStream[KinesisRecord](spark)
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .handle { r =>
        if (new String(r.data, "UTF-8") == "payload-2") sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    val q = consumer.run(mem.toDF())
    try {
      mem.addData(rec("shard-0", 1), rec("shard-0", 2), rec("shard-0", 3))
      q.processAllAvailable()
      assert(consumer.errorCount == 1)
      val seqs = HandlerSink.seen.asScala.toList.map(_._2)
      assert(seqs == List(f"${1}%09d", f"${3}%09d")) // 2 skipped, order kept
      // checkpoint advanced past the failing record — reference semantics
      assert(saver.get("test-stream", "shard-0").contains(f"${3}%09d"))
    } finally assert(consumer.shutdown(30.seconds))
  }

  test("onError dead-letter hook sees skipped records; its own failures don't block") {
    import spark.implicits._
    HandlerSink.clear()
    val mem = MemoryStream[KinesisRecord](spark)
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .onError { (r, e) =>
        HandlerSink.dlq.add((new String(r.data, "UTF-8"), e.getMessage))
        sys.error("dlq also broken") // must be swallowed
      }
      .handle { r =>
        if (new String(r.data, "UTF-8") == "payload-2") sys.error("boom")
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
      }
    val q = consumer.run(mem.toDF())
    try {
      mem.addData(rec("shard-0", 1), rec("shard-0", 2), rec("shard-0", 3))
      q.processAllAvailable()
      assert(consumer.errorCount == 1)
      assert(HandlerSink.dlq.asScala.toList == List(("payload-2", "boom")))
      assert(HandlerSink.seen.size() == 2) // others still processed
    } finally assert(consumer.shutdown(30.seconds))
  }

  test("fail error policy stops the query (Spark-native default)") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.Fail)
      .handle(r => if (new String(r.data, "UTF-8") == "payload-9") sys.error("always boom"))
    val q = consumer.run(mem.toDF())
    mem.addData(rec("shard-0", 1), rec("shard-0", 2), rec("shard-1", 1))
    q.processAllAvailable()
    val firstBatch = saver.snapshot
    assert(firstBatch == Map(("test-stream", "shard-0") -> f"${2}%09d",
      ("test-stream", "shard-1") -> f"${1}%09d"))

    mem.addData(rec("shard-0", 3), rec("shard-0", 9), rec("shard-1", 5))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    assert(e.getMessage.contains("boom") || e.cause != null)
    // No checkpoint for a batch whose handler threw, not even for the
    // shard whose records all succeeded.
    assert(saver.snapshot == firstBatch)
    consumer.shutdown(30.seconds)
  }

  test("shards sharing a partition keep per-shard order and each shard's max checkpoint") {
    import spark.implicits._
    HandlerSink.clear()
    val shards = (0 until 9).map(i => s"shard-$i") // > 4 shuffle partitions
    // Unpadded sequences of growing length: numeric order differs from
    // string order (e.g. "9" < "10").
    val perShard = shards.zipWithIndex.map { case (sh, i) => sh -> (1 to 4).map(k => k * 7 + i * 3) }.toMap
    val failing = ("shard-4", perShard("shard-4").max.toString) // last record of shard-4
    val recs = perShard.toSeq.flatMap { case (sh, ns) =>
      ns.map(n => rec(sh, n).copy(sequenceNumber = n.toString)).reverse
    }
    val interleaved = new scala.util.Random(7).shuffle(recs)

    val mem = MemoryStream[KinesisRecord](spark)
    val saver = new InMemorySequenceSaver
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .setSaver(saver)
      .errorPolicy(ErrorPolicy.SkipAndLog)
      .handle { r =>
        HandlerSink.seen.add((r.shardId, r.sequenceNumber))
        if ((r.shardId, r.sequenceNumber) == failing) sys.error("boom")
      }
    val q = consumer.run(mem.toDF())
    try {
      mem.addData(interleaved: _*)
      q.processAllAvailable()
      assert(consumer.errorCount == 1)
      val byShard = HandlerSink.seen.asScala.toList.groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2) }
      assert(byShard == perShard.map { case (sh, ns) => sh -> ns.sorted.map(_.toString).toList })
      assert(saver.snapshot == perShard.map { case (sh, ns) => ("test-stream", sh) -> ns.max.toString })
    } finally assert(consumer.shutdown(30.seconds))
  }

  test("a non-empty consumer micro-batch runs at most 2 Spark jobs") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis)
      .setSaver(new InMemorySequenceSaver)
      .handle(_ => ())
    val q = consumer.run(mem.toDF())
    val queryId = q.id.toString
    val jobs = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = Option(js.properties).foreach { p =>
        if (p.getProperty("sql.streaming.queryId") == queryId) jobs.incrementAndGet()
        if (p.getProperty("graft.test.fence") != null) fenced.countDown()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      try {
        mem.addData((1 to 20).map(n => rec(s"shard-${n % 6}", n)): _*)
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      } finally assert(consumer.shutdown(30.seconds))
      // Listener events arrive in order: once a job started after the
      // batch is seen, every job of the batch has been counted.
      spark.sparkContext.setLocalProperty("graft.test.fence", "1")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("graft.test.fence", null)
      assert(fenced.await(30, TimeUnit.SECONDS))
      assert(jobs.get() >= 1 && jobs.get() <= 2, s"${jobs.get()} jobs in one batch")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("start() wires the consumer's own source end-to-end (NewIteratorWithOpt → Handle → Run)") {
    import graft.sources.kinesis._
    HandlerSink.clear()
    FakeKinesisService.createStream("gc-start", 1)
    KinesisRegistry.clients.put("gc-start-fake", new FakeKinesisClient())
    (1 to 3).foreach(i =>
      FakeKinesisService.push("gc-start", "shardId-000000000000", s"pk$i", s"p$i".getBytes))
    val consumer = GraftConsumer(GraftOption().withStreamName("gc-start"))
      .sleepLimit(50.millis)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    val q = consumer.start(spark, Map("clientName" -> "gc-start-fake"))
    try {
      q.processAllAvailable()
      assert(HandlerSink.seen.asScala.size == 3)
    } finally assert(consumer.shutdown(10.seconds))
  }

  test("run without handler fails like HandlerIsNil (kinesis.go:148-150)") {
    import spark.implicits._
    val mem = MemoryStream[KinesisRecord](spark)
    val consumer = GraftConsumer(GraftOption().withStreamName("test-stream"))
    val e = intercept[IllegalStateException] { consumer.run(mem.toDF()) }
    assert(e.getMessage.contains("handler is nil"))
  }

  test("resume from checkpoint: restart does not re-deliver committed batches") {
    import spark.implicits._
    HandlerSink.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val saver = new InMemorySequenceSaver

    val mem1 = MemoryStream[KinesisRecord](spark)
    val c1 = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis).setSaver(saver).checkpointLocation(ckpt)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    val q1 = c1.run(mem1.toDF())
    mem1.addData(rec("shard-0", 1), rec("shard-0", 2))
    q1.processAllAvailable()
    assert(c1.shutdown(30.seconds))
    val afterFirst = HandlerSink.seen.size()
    assert(afterFirst == 2)

    // Same checkpoint + a source that would replay everything: the WAL
    // must prevent double-delivery of batch 0.
    val mem2 = MemoryStream[KinesisRecord](spark)
    val c2 = GraftConsumer(GraftOption().withStreamName("test-stream"))
      .sleepLimit(100.millis).setSaver(saver).checkpointLocation(ckpt)
      .handle(r => HandlerSink.seen.add((r.shardId, r.sequenceNumber)))
    mem2.addData(rec("shard-0", 1), rec("shard-0", 2)) // offsets 0..1 again
    val q2 = c2.run(mem2.toDF())
    q2.processAllAvailable()
    assert(c2.shutdown(30.seconds))
    assert(HandlerSink.seen.size() == afterFirst) // nothing re-delivered
  }
}
