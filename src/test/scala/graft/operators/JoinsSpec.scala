package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

class JoinsSpec extends SparkSuite {

  test("salted join returns exactly the plain join's rows on a skewed key") {
    // events.user_id is the join key; synthesize skew by folding most
    // keys onto one hot key.
    val ev = Tables.events(spark, sf("sf0.001"))
      .withColumn("k", when(col("user_id") % 4 === 0, 0L).otherwise(col("user_id")))
      .select("event_id", "k", "value")
    val dim = ev.select(col("k")).distinct()
      .withColumn("tag", concat(lit("dim-"), col("k")))

    val plain = ev.join(dim, Seq("k"))
      .select("event_id", "k", "tag").orderBy("event_id").collect().toSeq
    val salted = Joins.saltedInnerJoin(ev, dim, Seq("k"), salts = 8,
        saltSource = col("event_id"), hotKeyThreshold = 50L)
      .select("event_id", "k", "tag").orderBy("event_id").collect().toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("only hot-key right rows are replicated, O(hot keys × salts)") {
    import spark.implicits._
    // one hot key (10k rows) among 100 cold keys on the left; right has
    // one row per key.
    val left = spark.range(10000).select(lit(0L).as("k"), col("id").as("payload"))
      .unionByName(spark.range(1, 101).select(col("id").as("k"), col("id").as("payload")))
    val right = spark.range(0, 101).select(col("id").as("k"),
      concat(lit("dim-"), col("id")).as("tag"))
    val salts = 8
    val hot = Joins.hotKeys(left, Seq("k"), threshold = 1000L)
    assert(hot.as[Long].collect().toSeq == Seq(0L)) // exactly the hot key
    // ONLY the 1 hot right row fans out to all salts; the 100 cold
    // right rows ride salt 0 alone: 100 + 1×8, not 101×8
    val fanned = Joins.saltedRight(right, Seq("k"), salts, hot)
    assert(fanned.count() == 100L + 1L * salts)
    // and the join still returns exactly the plain join's rows
    val plain = left.join(right, Seq("k")).count()
    val two = Joins.saltedInnerJoin(left, right, Seq("k"), salts,
      saltSource = col("payload"), hotKeyThreshold = 1000L).count()
    assert(two == plain)
  }

  test("salted left join ≡ plain left join: unmatched hot and cold rows survive exactly once") {
    import spark.implicits._
    // one hot key (10k rows) + 100 cold keys on the left; the right
    // covers only even keys, so the hot key 0 is MATCHED while odd
    // cold keys are UNMATCHED — plus an extra variant where the hot
    // key itself is unmatched.
    val left = spark.range(10000).select(lit(0L).as("k"), col("id").as("payload"))
      .unionByName(spark.range(1, 101).select(col("id").as("k"), col("id").as("payload")))
    def check(right: org.apache.spark.sql.DataFrame): Unit = {
      val plain = left.join(right, Seq("k"), "left")
        .select("k", "payload", "tag").orderBy("k", "payload").collect().toSeq
      val salted = Joins.saltedLeftJoin(left, right, Seq("k"), salts = 8,
          saltSource = col("payload"), hotKeyThreshold = 1000L)
        .select("k", "payload", "tag").orderBy("k", "payload").collect().toSeq
      assert(salted == plain)
      assert(plain.count(_.isNullAt(2)) > 0, "test lost its unmatched rows")
    }
    // matched hot key, unmatched odd cold keys
    check(spark.range(0, 101, 2).select(col("id").as("k"),
      concat(lit("dim-"), col("id")).as("tag")))
    // UNMATCHED hot key: its 10k rows spread over 8 salts must all
    // come back exactly once with a null tag
    check(spark.range(1, 101, 2).select(col("id").as("k"),
      concat(lit("dim-"), col("id")).as("tag")))
  }

  test("salted left join with no hot keys degenerates to the plain left join") {
    val ev = Tables.events(spark, sf("sf0.001")).select("event_id", "user_id")
    val dim = ev.select(col("user_id")).distinct().withColumn("t", lit(1))
    val out = Joins.saltedLeftJoin(ev, dim, Seq("user_id"), 4, col("event_id"),
      hotKeyThreshold = Long.MaxValue)
    assert(out.count() == ev.count())
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("__salt"), s"salt machinery survived:\n$plan")
  }

  test("no hot keys degenerates to the plain join (empty salted branch)") {
    val ev = Tables.events(spark, sf("sf0.001")).select("event_id", "user_id")
    val dim = ev.select(col("user_id")).distinct().withColumn("t", lit(1))
    val hot = Joins.hotKeys(ev, Seq("user_id"), threshold = Long.MaxValue)
    assert(hot.isEmpty)
    val out = Joins.saltedInnerJoin(ev, dim, Seq("user_id"), 4, col("event_id"),
      hotKeyThreshold = Long.MaxValue)
    assert(out.count() == ev.join(dim, Seq("user_id")).count())
    // the short circuit means the salt machinery is GONE from the plan,
    // not just inert: no salt column, no right-side generator
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("__salt"), s"salt machinery survived:\n$plan")
    assert(!plan.contains("Generate"), s"right-side fan-out survived:\n$plan")
  }

  test("rangeJoin ≡ plain BETWEEN join, including negative axis values and bucket edges") {
    import spark.implicits._
    val pts = Seq(-10L, -8L, -4L, -1L, 0L, 1L, 3L, 4L, 5L, 7L, 8L, 20L)
      .toDF("p")
    val ivs = Seq((1L, -9L, -2L), (2L, -4L, 4L), (3L, 0L, 6L), (4L, 5L, 7L),
      (5L, 8L, 8L), (6L, 100L, 110L)).toDF("ivid", "lo", "hi")
    val plain = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "ivid").orderBy("p", "ivid").collect().toSeq
    for (w <- Seq(1L, 3L, 4L, 100L)) {
      val bucketed = Joins.rangeJoin(pts, ivs, col("p"), col("lo"), col("hi"),
          bucketWidth = w)
        .select("p", "ivid").orderBy("p", "ivid").collect().toSeq
      assert(bucketed == plain, s"bucketWidth=$w diverged from the BETWEEN join")
    }
    assert(plain.nonEmpty && plain.size < 12 * 6, "test is vacuous")
  }

  test("rangeJoin property: random points/intervals/widths match an independent oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (round <- 1 to 5) {
      val pts = Seq.fill(60)(rnd.nextLong() % 1000).zipWithIndex
        .map { case (p, i) => (i.toLong, p) }
      val ivs = Seq.fill(25) {
        val a = rnd.nextLong() % 1000
        val span = rnd.nextInt(120)
        (a, a + span)
      }.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      // driver-side oracle: plain nested loop over the tiny case
      val expected = (for {
        (pid, p) <- pts; (ivid, lo, hi) <- ivs if p >= lo && p <= hi
      } yield (pid, ivid)).sorted
      val w = 1L + rnd.nextInt(150)
      val got = Joins.rangeJoin(
          pts.toDF("pid", "p"), ivs.toDF("ivid", "lo", "hi"),
          col("p"), col("lo"), col("hi"), bucketWidth = w)
        .select("pid", "ivid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected, s"round $round width $w diverged")
    }
  }

  test("rangeJoin bucket assignment stays exact above 2^53 (nanosecond-epoch axis)") {
    import spark.implicits._
    // Up here a double floor-division quotient rounds, which can land a
    // point outside its interval's exploded bucket set — a silent
    // false negative the residual BETWEEN filter cannot repair. The
    // long-exact edge arithmetic must keep every matching pair.
    val base = Long.MaxValue - 1000L
    val pts = Seq((1L, base + 3L), (2L, base + 997L), (3L, base))
      .toDF("pid", "t")
    val ivs = Seq((10L, base, base + 10L), (11L, base + 990L, base + 999L))
      .toDF("ivid", "lo", "hi")
    for (w <- Seq(1L, 7L, 64L)) {
      val got = Joins.rangeJoin(pts, ivs, col("t"), col("lo"), col("hi"),
          bucketWidth = w)
        .select("pid", "ivid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (3L, 10L), (2L, 11L)),
        s"bucketWidth=$w dropped or invented pairs near Long.MaxValue: $got")
    }
  }

  test("salting shrinks the biggest join-key group ~salts× on a hot key") {
    // The gate data is unskewed, so the registered q36/q48 only ever
    // measure salting's overhead. This is the benefit side: a fact
    // where ONE key holds 30% of all rows. The metric is the largest
    // single (keys)-group — the IRREDUCIBLE input of whichever task
    // receives it (AQE can split an oversized partition, but never a
    // single key group) — against the largest (keys, salt) group.
    // Group size, not partition id, keeps the measure deterministic:
    // hashing two of the 8 salt groups into one shuffle partition is
    // a birthday collision, not a salting failure.
    val n = 20000L
    val salts = 8
    val left = spark.range(n).select(
      when(col("id") % 10 < 3, 0L).otherwise(pmod(col("id"), lit(1000L))).as("k"),
      col("id").as("payload"))
    val hot = Joins.hotKeys(left, Seq("k"), threshold = n / 10)
    def maxGroup(df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long =
      df.groupBy(keys.map(col): _*).count()
        .agg(max("count")).head().getLong(0)
    val plainMax = maxGroup(left, Seq("k"))
    val saltedMax = maxGroup(
      Joins.saltedLeft(left, Seq("k"), salts, col("payload"), hot),
      Seq("k", "__salt"))
    info(s"max join-key group: plain=$plainMax salted=$saltedMax (salts=$salts)")
    assert(plainMax >= n * 3 / 10, "hot key no longer dominates — test is vacuous")
    assert(saltedMax * (salts / 2) <= plainMax,
      s"salting won less than ${salts / 2}×: plain=$plainMax salted=$saltedMax")
  }

  test("rangeJoin fails fast (clear error, not an OOM) on a pathological interval") {
    import spark.implicits._
    val pts = Seq(1L).toDF("p")
    val ivs = Seq((0L, Long.MaxValue / 4)).toDF("lo", "hi")
    val ex = intercept[Exception] {
      Joins.rangeJoin(pts, ivs, col("p"), col("lo"), col("hi"),
        bucketWidth = 1).count()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("maxBucketsPerInterval")),
      s"unexpected failure: ${chain(ex)}")
  }

  test("rangeJoin: inverted intervals (hi < lo) match nothing instead of erroring") {
    import spark.implicits._
    // Interval 2 (10→0) and 3 (9→2) are inverted AND cross bucket
    // edges — the shape that made the positive-stride sequence() throw
    // before the pre-filter. Raw-BETWEEN semantics: they match nothing.
    val pts = Seq(0L, 5L, 10L).toDF("p")
    val ivs = Seq((1L, 0L, 10L), (2L, 10L, 0L), (3L, 9L, 2L))
      .toDF("ivid", "lo", "hi")
    val got = Joins.rangeJoin(pts, ivs, col("p"), col("lo"), col("hi"),
        bucketWidth = 4)
      .select("p", "ivid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (5L, 1L), (10L, 1L)),
      s"inverted intervals changed the result: $got")
  }

  test("overlapJoin ≡ plain overlap-predicate join, exactly once per pair, across widths") {
    import spark.implicits._
    // touching endpoints, containment, negatives, bucket-edge spans,
    // and a disjoint interval; inverted right interval matches nothing
    val as = Seq((1L, -10L, -2L), (2L, -4L, 4L), (3L, 0L, 6L), (4L, 5L, 7L),
      (5L, 8L, 8L), (6L, 100L, 110L)).toDF("aid", "alo", "ahi")
    val bs = Seq((10L, -3L, -3L), (11L, -20L, 50L), (12L, 6L, 8L),
      (13L, 111L, 120L), (14L, 9L, 2L)).toDF("bid", "blo", "bhi")
    val plain = as.join(bs, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid").orderBy("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (w <- Seq(1L, 3L, 4L, 16L, 1000L)) {
      val got = Joins.overlapJoin(as, bs, col("alo"), col("ahi"),
          col("blo"), col("bhi"), bucketWidth = w)
        .select("aid", "bid").orderBy("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == plain, s"bucketWidth=$w diverged from the overlap join")
      assert(got.distinct == got, s"bucketWidth=$w emitted a pair twice")
    }
    assert(plain.nonEmpty && plain.size < 6 * 5, "test is vacuous")
  }

  test("overlapJoin property: random interval sets match a driver-side oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(2026)
    for (round <- 1 to 5) {
      def ivs(n: Int, span: Int) = Seq.fill(n) {
        val a = rnd.nextLong() % 800
        (a, a + rnd.nextInt(span))
      }.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      val as = ivs(40, 60)
      val bs = ivs(30, 150)
      val expected = (for {
        (aid, alo, ahi) <- as; (bid, blo, bhi) <- bs
        if alo <= bhi && blo <= ahi
      } yield (aid, bid)).sorted
      val w = 1L + rnd.nextInt(120)
      val got = Joins.overlapJoin(
          as.toDF("aid", "alo", "ahi"), bs.toDF("bid", "blo", "bhi"),
          col("alo"), col("ahi"), col("blo"), col("bhi"), bucketWidth = w)
        .select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expected, s"round $round width $w diverged")
    }
  }

  test("bloomSemiJoin ≡ plain left_semi even when false positives must occur") {
    // A deliberately overloaded filter (256 bits, 400 keys) so that
    // Bloom false positives are GUARANTEED among non-members — the
    // exact semi join downstream must remove every one of them.
    val left = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") * 7).as("v"))
    val right = spark.range(0, 2000, 5).select(col("id").as("rk"))
    val bf = Joins.buildBloom(right, col("rk"), bits = 256, hashes = 3)
    val fp = left.filter(col("k") % 5 =!= 0)
      .filter(Joins.bloomMightContain(bf, col("k"))).count()
    assert(fp > 0, "filter not loaded enough to force false positives — vacuous")
    val plain = left.join(right, col("k") === col("rk"), "left_semi")
      .select("k", "v").orderBy("k").collect().toSeq
    assert(plain.size == 400)
    val prebuilt = Joins.bloomSemiJoin(left, right, "k", "rk", bf)
      .select("k", "v").orderBy("k").collect().toSeq
    assert(prebuilt == plain, "prebuilt-filter overload diverged from plain semi join")
    val eager = Joins.bloomSemiJoin(left, right, "k", "rk",
        bits = 256, hashes = 3)
      .select("k", "v").orderBy("k").collect().toSeq
    assert(eager == plain, "eager overload diverged from plain semi join")
  }

  test("bloom has no false negatives: every inserted key passes, long and string") {
    val longKeys = spark.range(0, 5000).select(col("id").as("k"))
    val bfLong = Joins.buildBloom(longKeys, col("k"), bits = 1 << 12, hashes = 5)
    assert(longKeys.filter(!Joins.bloomMightContain(bfLong, col("k"))).count() == 0,
      "a long key the filter saw at build time failed the probe")
    val strKeys = spark.range(0, 3000)
      .select(concat(lit("key-"), col("id")).as("k"))
    val bfStr = Joins.buildBloom(strKeys, col("k"), bits = 1 << 12, hashes = 5)
    assert(strKeys.filter(!Joins.bloomMightContain(bfStr, col("k"))).count() == 0,
      "a string key the filter saw at build time failed the probe")
  }

  test("measured FPP stays near the standard (1-e^{-kn/m})^k bound") {
    val n = 1000
    val bits = 1 << 14
    val hashes = 5
    val keys = spark.range(0, n).select(col("id").as("k"))
    val bf = Joins.buildBloom(keys, col("k"), bits, hashes)
    val probes = 20000L
    val fpCount = spark.range(1000000, 1000000 + probes)
      .select(col("id").as("k"))
      .filter(Joins.bloomMightContain(bf, col("k"))).count()
    val fpp = fpCount.toDouble / probes
    val theo = math.pow(1 - math.exp(-hashes.toDouble * n / bits), hashes)
    info(f"measured FPP=$fpp%.5f theoretical=$theo%.5f (n=$n m=$bits k=$hashes)")
    // 3× + additive slack absorbs binomial noise over 20k probes while
    // still catching a broken bit layout (which lands near FPP ≈ 1)
    assert(fpp <= theo * 3 + 0.01,
      f"FPP $fpp%.5f far above theoretical $theo%.5f — bit layout broken?")
  }

  test("cached q53 Bloom filter self-invalidates on re-ingest (no stale false-negatives)") {
    import spark.implicits._
    // A stale bloom would false-negative new custkeys and silently drop
    // them before the exact semi-join. Artifacts are checked against a
    // fingerprint of the dataset's files (paths + lengths + mtimes), so
    // an overwritten customer.parquet must rebuild with no release call.
    val dir = java.nio.file.Files.createTempDirectory("bloom-reingest").toString
    def writeCustomers(keys: Seq[Long]): Unit =
      keys.toDF("c_custkey")
        .withColumn("c_mktsegment", lit("BUILDING"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    writeCustomers(Seq(1L, 2L, 3L))
    val bf1 = Relational.buildingSegmentBloom(spark, dir)
    // bf1 knows nothing about key 1000001 (bits are tiny; a lucky FP
    // is possible, so pick the assert from the side that can't flake:
    // members of the FIRST ingest must pass bf1)
    assert(Seq(1L, 2L, 3L).toDF("k")
      .filter(!Joins.bloomMightContain(bf1, col("k"))).count() == 0)
    // same (session, dir) key, same bytes → cache hit (same instance)
    assert(Relational.buildingSegmentBloom(spark, dir) eq bf1)
    // RE-INGEST: disjoint key set, different file length → fingerprint
    // changes → rebuilt filter has no false negatives on the NEW keys
    val newKeys = (1000001L to 1000050L).toSeq
    writeCustomers(newKeys)
    val bf2 = Relational.buildingSegmentBloom(spark, dir)
    assert(!(bf2 eq bf1), "re-ingested dir served the stale cached filter")
    assert(newKeys.toDF("k")
      .filter(!Joins.bloomMightContain(bf2, col("k"))).count() == 0,
      "a key from the re-ingested customer table false-negatived")
  }

  /** A fresh temp dir holding copies of `from`'s table files. */
  private def copyOf(from: String): String = {
    val dir = Files.createTempDirectory("graft-artifacts")
    overwrite(dir.toString, from)
    dir.toString
  }

  /** Persisted tables: connectedComponents' local checkpoint blocks
    * are left out, since they are freed only when the garbage collector
    * drops their frames, at a time no test controls.
    */
  private def persistedTables =
    spark.sparkContext.getPersistentRDDs.filter(!_._2.isCheckpointed).keySet.toSet

  private def overwrite(dir: String, from: String): Unit =
    Files.list(Paths.get(from)).forEach { f =>
      Files.copy(f, Paths.get(dir).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }

  test("artifact-reading queries answer from the re-ingested files with no release call") {
    // q70/q76 return rows of the co-occurrence graph artifact, d06 the
    // text pair labels, s07c the sized embedding pair labels: each
    // answer IS an ingest artifact, so serving a stale one after a
    // re-ingest would silently return the old dataset's rows
    val names = Seq("q70_triangles", "q76_link_jaccard", "d06_dedup_clusters",
      "s07c_semantic_survivors_sized")
    def run(dir: String) = names.map(graft.SparkEntry.queries(_)(spark, dir).collect().toSeq)
    def persisted = persistedTables.size
    val dir = copyOf(sf("sf0.001"))
    val old = run(dir)
    val warm = persisted
    overwrite(dir, sf("sf0.01"))
    val rebuilt = run(dir)
    assert(persisted <= warm, "the re-ingested dir's stale artifacts stayed persisted")
    val fresh = run(copyOf(sf("sf0.01")))
    val blind = names.indices.filter(i => old(i) == fresh(i)).map(names)
    assert(blind.isEmpty, "these queries cannot tell the two datasets apart")
    val stale = names.indices.filter(i => rebuilt(i) != fresh(i)).map(names)
    assert(stale.isEmpty, "these queries served the old dataset's rows")
  }

  test("concurrent first calls build each nested artifact once") {
    // d06's first access builds labels -> pairs -> shingles, each under
    // its own entry lock; two racing callers must neither deadlock nor
    // build (and persist) any artifact twice
    val d06 = graft.SparkEntry.queries("d06_dedup_clusters")
    val before1 = persistedTables
    val single = d06(spark, copyOf(sf("sf0.001"))).collect().toSeq
    val builtOnce = (persistedTables -- before1).size
    val dir = copyOf(sf("sf0.001"))
    val before2 = persistedTables
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[Seq[Row]] {
        def call() = { start.await(); d06(spark, dir).collect().toSeq }
      }))
      start.countDown()
      val results = calls.map(_.get(5, TimeUnit.MINUTES))
      assert(results(0) == results(1))
      assert(results(0) == single)
    } finally pool.shutdown()
    assert(builtOnce > 0)
    assert((persistedTables -- before2).size == builtOnce,
      "an artifact was built (and persisted) more than once")
  }

  test("buildBloom rejects invalid parameters") {
    val keys = spark.range(0, 10).select(col("id").as("k"))
    intercept[IllegalArgumentException] {
      Joins.buildBloom(keys, col("k"), bits = 100, hashes = 5) // not ×64
    }
    intercept[IllegalArgumentException] {
      Joins.buildBloom(keys, col("k"), bits = 256, hashes = 0)
    }
  }

  test("salt column does not leak into the output schema") {
    val ev = Tables.events(spark, sf("sf0.001")).select("event_id", "user_id")
    val dim = ev.select(col("user_id")).distinct().withColumn("t", lit(1))
    val out = Joins.saltedInnerJoin(ev, dim, Seq("user_id"), 4, col("event_id"),
      hotKeyThreshold = 10L)
    assert(!out.columns.contains("__salt"))
  }
}
