package graft

import graft.cdc.{CdcStream, Dedup, Merge, Prefetch, Prepared}
import graft.core.ChangeGen
import graft.lake.LakeTable
import graft.ops.CdcQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

/** The one prefetch primitive and its callers: bounded look-ahead, owned
  * handover, release on abort, a resumed tail that predicts its first
  * batch, and a key estimate for every prepared batch after the first.
  * Asserted through the SparkContext's persistent RDDs and the JVM
  * prefetch counters.
  */
class PrefetchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = ChangeGen.Config(nEvents = 5000, nDomains = 40,
    pagesPerDomain = 15, v1Frac = 0.0, v2Frac = 0.0)

  /** `n` consecutive LSN slices of the log, all producer version 3. */
  private def slices(n: Int): Seq[DataFrame] = {
    val size = cfg.nEvents / n
    (0 until n).map(k => ChangeGen.eventsRange(spark, cfg, k * size,
      if (k == n - 1) cfg.nEvents else (k + 1) * size))
  }

  private def bruteForce(): DataFrame =
    Dedup.latestPerKeyWindow(ChangeGen.events(spark, cfg), "url",
      Seq("warc_ts", "lsn"))
      .filter(col("op") =!= "D")
      .select("url", "warc_ts", "text")

  private def assertConverged(t: LakeTable): Unit = {
    val got = t.readUser().select("url", "warc_ts", "text")
    assert(got.exceptAll(bruteForce()).isEmpty &&
      bruteForce().exceptAll(got).isEmpty)
  }

  /** A fresh RDD id: every RDD created later has a larger one. */
  private def mark(): Int = spark.sparkContext.emptyRDD[Int].id

  /** RDDs persisted now that were created after `m`. */
  private def persistedSince(m: Int): Int =
    spark.sparkContext.getPersistentRDDs.keys.count(_ > m)

  /** Released plans unpersist once their background job ends. */
  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    assert(cond, what)
  }

  private def counters = (Merge.prefetchHits.get, Merge.prefetchMisses.get,
    Merge.prefetchFailures.get)

  private def hasBroadcastHint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        if h.hints.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
    }.nonEmpty

  test("a 5-epoch pipeline never holds more than 2 prepared batches") {
    val t = LakeTable.create(spark, TestSpark.tempDir("pf-window"),
      schemaId = 3, numBuckets = 8)
    val m = mark()
    val (h0, m0, _) = counters
    var peak = 0
    Merge.beforeCommitHook = () => peak = math.max(peak, persistedSince(m))
    try CdcQueries.mergeEpochs(spark, t, slices(5), hinted = false)
    finally Merge.beforeCommitHook = () => ()
    // the merging batch's keys + winners and the next one's
    assert(peak > 0 && peak <= 4, s"peak persisted plans $peak")
    val (h1, m1, _) = counters
    assert(h1 - h0 == 4 && m1 - m0 == 0) // epochs 1-4 prepared, all used
    eventually("plans left persisted")(persistedSince(m) == 0)
    assertConverged(t)
  }

  test("a prefetch that fails after handover leaves the handed-over plans " +
    "persisted until applyBatch releases them") {
    val t = LakeTable.create(spark, TestSpark.tempDir("pf-late-fail"),
      schemaId = 3, numBuckets = 8)
    // the payload column goes through a UDF that, while armed, blocks
    // until released and then throws: the key scan (no payload) succeeds,
    // the winners scan fails — after the handover below
    val poisoned = udf { (s: String) => PrefetchSpec.gate(); s }
    val batch = ChangeGen.events(spark, cfg)
      .withColumn("text", poisoned(col("text")))
    val m = mark()
    val (_, _, f0) = counters
    val ahead = new Prefetch[Int]()
    PrefetchSpec.armed = true
    val prepared = try {
      ahead.prepare(0, batch, 1L)
      ahead.take(0).get
    } finally PrefetchSpec.release.countDown()
    eventually("background failure counted")(
      Merge.prefetchFailures.get > f0)
    PrefetchSpec.armed = false
    // still the merge's: cached, and the materialised key plan's RDD kept
    assert(prepared.keys.storageLevel.useMemory)
    assert(prepared.winners.storageLevel.useMemory)
    assert(persistedSince(m) > 0)
    val s = Merge.applyBatch(spark, t, batch, 0L, batchSchemaVersion = 3,
      prepared = Some(prepared))
    assert(s.applied)
    assert(!prepared.keys.storageLevel.useMemory)
    assert(!prepared.winners.storageLevel.useMemory)
    eventually("plans left persisted")(persistedSince(m) == 0)
    assertConverged(t)
  }

  test("an exception in the middle of the loop leaves no prepared plan " +
    "persisted") {
    val t = LakeTable.create(spark, TestSpark.tempDir("pf-abort"),
      schemaId = 3, numBuckets = 8)
    val m = mark()
    val (h0, m0, _) = counters
    var epoch = 0
    Merge.beforeCommitHook = () => {
      epoch += 1
      if (epoch == 3) throw new IllegalStateException("injected")
    }
    val e = try intercept[IllegalStateException] {
      CdcQueries.mergeEpochs(spark, t, slices(5), hinted = false)
    } finally Merge.beforeCommitHook = () => ()
    assert(e.getMessage == "injected")
    val (h1, m1, _) = counters
    // epochs 1 and 2 handed over; epoch 3, pending, released
    assert(h1 - h0 == 2 && m1 - m0 == 1)
    eventually("plans left persisted")(persistedSince(m) == 0)
    assert(t.currentVersion == 2)
  }

  test("a tail restarted on a drained-then-extended log records 0 misses") {
    val stage = TestSpark.tempDir("pf-stage")
    val chunks = ChangeGen.writeLog(spark, cfg, stage, nChunks = 6)
    val log = TestSpark.tempDir("pf-log")
    // landed in order: one second apart, the order the file source takes
    def land(i: Int): Unit = {
      val d = Paths.get(log).resolve(Paths.get(chunks(i)).getFileName)
      Files.copy(Paths.get(chunks(i)), d)
      Files.setLastModifiedTime(d, FileTime.fromMillis(1700000000000L + i * 1000L))
    }
    val dir = TestSpark.tempDir("pf-tail")
    val ck = TestSpark.tempDir("pf-ck")
    LakeTable.create(spark, dir, schemaId = 3, numBuckets = 8)
    val (h0, m0, f0) = counters
    (0 until 2).foreach(land)
    CdcStream.tailAll(spark, log, dir, ck)
    (2 until 6).foreach(land)
    CdcStream.tailAll(spark, log, dir, ck)
    val (h1, m1, f1) = counters
    assert(m1 - m0 == 0, "a tail batch was mispredicted")
    assert(f1 - f0 == 0)
    assert(h1 - h0 == 6) // every batch, incl. each run's first, prepared
    val t = LakeTable.load(spark, dir)
    assert(t.currentVersion == 6)
    assertConverged(t)
  }

  test("every prepared batch after the first builds winners with a key " +
    "estimate") {
    // with the broadcast guard at 10 keys, an estimated winners join is
    // shuffled and only an unestimated one keeps the broadcast hint
    spark.conf.set("graft.merge.broadcastWinnersMaxKeys", "10")
    try {
      // sequential loops (replay, the queries): batch 1 is the first
      // prepared; batches 2 and 3 size from the last applied batch
      val t = LakeTable.create(spark, TestSpark.tempDir("pf-estimate"),
        schemaId = 3, numBuckets = 8)
      val hinted = scala.collection.mutable.ArrayBuffer[Boolean]()
      Prefetch.pipelined[(DataFrame, Int)](slices(4).zipWithIndex,
          _ => 1000L, _._1) { case ((b, k), prepared) =>
        prepared.foreach(p => hinted += hasBroadcastHint(p.winners))
        Merge.applyBatch(spark, t, b, k.toLong, batchSchemaVersion = 3,
          prepared = prepared)
      }
      assert(hinted == Seq(true, false, false))
      assertConverged(t)

      // the tail's shape: batch 1 is prepared before batch 0 has applied,
      // so it sizes from batch 0's own key count
      val ahead = new Prefetch[Int]()
      val Seq(b0, b1) = slices(2)
      ahead.prepare(0, b0, 1000L)
      val p0 = ahead.take(0)
      ahead.prepare(1, b1, 1000L)
      val p1 = ahead.take(1)
      assert(hasBroadcastHint(p0.get.winners))
      assert(!hasBroadcastHint(p1.get.winners))
      Seq(p0, p1).flatten.foreach { case Prepared(k, w) =>
        k.unpersist(); w.unpersist()
      }
    } finally spark.conf.unset("graft.merge.broadcastWinnersMaxKeys")
  }
}

object PrefetchSpec {
  @volatile var armed = false
  val release = new java.util.concurrent.CountDownLatch(1)

  def gate(): Unit = if (armed) {
    release.await(30, java.util.concurrent.TimeUnit.SECONDS)
    throw new IllegalStateException("injected prefetch failure")
  }
}
