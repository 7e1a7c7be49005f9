package perfbench

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import graft.sources.kinesis.{ClientRecord, GetRecordsResult, KinesisLikeClient, PutResult, ShardInfo}
import graft.streaming.SequenceSaver

/** The benchmark's Kinesis stand-in. Each shard keeps its records in
  * growable arrays under its own lock, and resolves a sequence number
  * to a position by binary search, so a read costs the same however
  * many records the shard holds and an append never waits for readers
  * of other shards. Sequence numbers are zero-padded and increase per
  * stream, as graft's `SequenceOrder` expects.
  */
object BenchKinesis {
  final class Shard(val id: String, val parent: Option[String]) {
    @volatile var closed = false
    private var seqs = new Array[Long](1024)
    private var recs = new Array[ClientRecord](1024)
    private var n = 0
    private var total = 0L
    /** Position after the last record a `getRecords` call returned. */
    @volatile var readUpTo = 0

    def size: Int = synchronized(n)

    /** Payload bytes appended so far. */
    def bytes: Long = synchronized(total)

    /** Takes the stream's next sequence under this shard's lock, so
      * sequences increase along every shard. */
    def append(counter: AtomicLong, key: String, data: Array[Byte]): ClientRecord = synchronized {
      require(!closed, s"shard $id is closed")
      if (n == seqs.length) {
        seqs = java.util.Arrays.copyOf(seqs, n * 2)
        recs = java.util.Arrays.copyOf(recs, n * 2)
      }
      val s = counter.incrementAndGet()
      val r = ClientRecord(data, key, BenchKinesis.padded(s), new Timestamp(System.currentTimeMillis()))
      seqs(n) = s; recs(n) = r; n += 1; total += data.length
      r
    }

    /** Index of the first record after `after` (0 for TRIM_HORIZON). */
    def indexAfter(after: Option[String]): Int = synchronized {
      after.filter(_.nonEmpty) match {
        case None => 0
        case Some(s) =>
          val i = java.util.Arrays.binarySearch(seqs, 0, n, s.toLong)
          if (i >= 0) i + 1 else -(i + 1)
      }
    }

    def slice(from: Int, limit: Int): (Array[ClientRecord], Int, Boolean) = synchronized {
      val end = math.min(n, from + limit)
      (java.util.Arrays.copyOfRange(recs, from, end), end, closed && end >= n)
    }

    def seqAt(i: Int): String = synchronized(recs(i).sequenceNumber)
  }

  final class Stream(val name: String) {
    @volatile var shards: Vector[Shard] = Vector.empty
    val seq = new AtomicLong(0)
    /** Called with each appended record and the append time (ns). */
    @volatile var onAppend: (ClientRecord, Long) => Unit = (_, _) => ()
    def shard(id: String): Shard = shards.find(_.id == id)
      .getOrElse(throw new IllegalArgumentException(s"no shard $id in $name"))
    def open: Vector[Shard] = shards.filterNot(_.closed)
  }

  private val streams = TrieMap.empty[String, Stream]

  def stream(name: String): Stream =
    streams.getOrElse(name, throw new IllegalArgumentException(s"no stream $name"))

  def create(name: String, nShards: Int): Stream = {
    val st = new Stream(name)
    st.shards = Vector.tabulate(nShards)(i => new Shard(f"shardId-$i%012d", None))
    streams.put(name, st)
    st
  }

  def drop(name: String): Unit = streams.remove(name)

  /** Appends to the open shard `key` routes to; returns the sequence. */
  def append(st: Stream, key: String, data: Array[Byte]): String = {
    val open = st.open
    val r = open(math.floorMod(key.hashCode, open.size)).append(st.seq, key, data)
    st.onAppend(r, System.nanoTime())
    r.sequenceNumber
  }

  /** Zero-padded to 21 digits, like Kinesis sequence numbers. */
  def padded(v: Long): String = {
    val s = java.lang.Long.toString(v)
    val sb = new java.lang.StringBuilder(21)
    var k = s.length
    while (k < 21) { sb.append('0'); k += 1 }
    sb.append(s).toString
  }

  /** Closes `parentId` and opens two children, as a Kinesis split. */
  def split(st: Stream, parentId: String): Unit = st.synchronized {
    val base = st.shards.size
    val p = st.shard(parentId)
    p.closed = true
    st.shards = st.shards ++ Seq(
      new Shard(f"shardId-$base%012d", Some(parentId)),
      new Shard(f"shardId-${base + 1}%012d", Some(parentId)))
  }

  /** Records appended and not yet returned by `getRecords`. */
  def backlog(st: Stream): Long = st.shards.map(s => (s.size - s.readUpTo).toLong).sum

  /** Call counters, JVM-static because clients are serialized into
    * tasks. Timings are taken only when tracing is on. */
  object Counters {
    val all: TrieMap[String, AtomicLong] = TrieMap.empty
    def inc(name: String, v: Long = 1): Unit = all.getOrElseUpdate(name, new AtomicLong).addAndGet(v)
    def get(name: String): Long = all.get(name).map(_.get).getOrElse(0L)
    def reset(): Unit = all.clear()
  }

  private def timed[T](name: String)(body: => T): T =
    if (!Trace.on) { Counters.inc(s"$name.calls"); body }
    else {
      val t0 = System.nanoTime()
      try Trace.span(s"kinesis.$name")(body)
      finally {
        Counters.inc(s"$name.calls")
        Counters.inc(s"$name.ns", System.nanoTime() - t0)
      }
    }

  /** Iterator tokens are `stream|shard|position`. */
  class Client extends KinesisLikeClient {
    override def listShards(streamName: String): Seq[ShardInfo] = timed("list_shards") {
      stream(streamName).shards.map(s => ShardInfo(s.id, s.parent, s.closed))
    }

    override def streamStatus(streamName: String): String = "ACTIVE"

    override def getShardIterator(streamName: String, shardId: String,
        afterSequence: Option[String]): String = timed("get_shard_iterator") {
      val i = stream(streamName).shard(shardId).indexAfter(afterSequence)
      s"$streamName|$shardId|$i"
    }

    override def getRecords(iterator: String, limit: Int): GetRecordsResult = timed("get_records") {
      val Array(streamName, shardId, pos) = iterator.split('|')
      val sh = stream(streamName).shard(shardId)
      val (recs, end, drained) = sh.slice(pos.toInt, limit)
      if (end > sh.readUpTo) sh.readUpTo = end
      Counters.inc("get_records.records", recs.length)
      if (recs.isEmpty) Counters.inc("get_records.empty")
      GetRecordsResult(recs.toSeq, if (drained) None else Some(s"$streamName|$shardId|$end"))
    }

    override def putRecord(streamName: String, partitionKey: String, data: Array[Byte]): String =
      append(stream(streamName), partitionKey, data)

    override def putRecords(streamName: String,
        records: Seq[(String, Array[Byte])]): Seq[PutResult] = timed("put_records") {
      val st = stream(streamName)
      Counters.inc("put_records.records", records.size)
      records.map { case (k, d) => PutResult(Some(append(st, k, d)), None) }
    }

    override def sequenceAfter(streamName: String, shardId: String,
        afterSequence: Option[String], maxRecords: Int): (Option[String], Boolean) =
      timed("sequence_after") {
        val sh = stream(streamName).shard(shardId)
        val closed = sh.closed
        val size = sh.size
        val from = sh.indexAfter(afterSequence)
        val until = math.min(size, from.toLong + maxRecords).toInt
        (if (until > from) Some(sh.seqAt(until - 1)) else afterSequence, closed)
      }
  }
}

/** Counts (and, when tracing, times) the calls a consumer makes into a
  * saver. Counters are JVM-static for the same reason as the client's. */
class CountingSaver(inner: SequenceSaver) extends SequenceSaver {
  override def get(streamName: String, shardId: String): Option[String] =
    inner.get(streamName, shardId)
  override def set(streamName: String, shardId: String, sequence: String): Unit = {
    val t0 = System.nanoTime()
    Trace.span("saver.set")(inner.set(streamName, shardId, sequence))
    BenchKinesis.Counters.inc("saver.set.calls")
    if (Trace.on) BenchKinesis.Counters.inc("saver.set.ns", System.nanoTime() - t0)
  }
  override def del(streamName: String, shardId: String): Unit = {
    Trace.span("saver.del")(inner.del(streamName, shardId))
    BenchKinesis.Counters.inc("saver.del.calls")
  }
}
