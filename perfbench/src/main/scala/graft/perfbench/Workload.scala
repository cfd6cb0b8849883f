package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{CdcStream, ChangeFeed, Dedup, Merge}
import graft.core.{ChangeGen, Fs}
import graft.lake.{LakeTable, Maintenance, Snapshot}

/** Input shape of one workload: the url space the generated log draws
  * from, nDomains (zipf) × pagesPerDomain (uniform). Every workload runs
  * the same lifecycle (set-up, replay, merge-on-read rounds, streaming tail
  * plus replica); the url space decides which engine paths it takes.
  */
final case class Shape(name: String, nDomains: Int, pagesPerDomain: Int)

object Shape {
  val all: Seq[Shape] = Seq(
    // ~5k urls: the table never outgrows 4 chunks, so every replay batch
    // takes the full-rewrite path, and upserts supersede many rows
    Shape("churn", nDomains = 50, pagesPerDomain = 100),
    // ~2M urls, ~1 event per url: the table grows by a chunk per batch,
    // so the later replay batches take the prune path
    Shape("append", nDomains = 2000, pagesPerDomain = 1000))
}

object Layers {
  val Setup = "setup"
  val Replay = "cdc.Stream.replay"
  val Merge = "cdc.Merge"
  val Meta = "lake.LakeTable.meta"
  val Scan = "cdc.BucketBatchScan.scan"
  val Count = "cdc.BucketBatchScan.count"
  val Changes = "cdc.BucketBatchScan.changes"
  val Point = "lake.GraftFileIndex.point"
  val Compact = "lake.Maintenance"
  val Tail = "cdc.Stream.tail"
  val Replica = "cdc.ChangeFeed.replicateStream"
  val SparkJob = "spark.job"
  val all: Seq[String] = Seq(Setup, Replay, Merge, Meta, Scan, Count,
    Changes, Point, Compact, Tail, Replica, SparkJob)
}

/** One run of one workload: set-up, the timed phases, the output checks,
  * and the samples behind the metrics. Checks run outside the timed
  * regions; a check that fails counts its operation as failed.
  */
final class Workload(spark: SparkSession, shape: Shape, seed: Long,
    work: Path, val tracer: Tracer) {

  val SetupReps = 3
  val Events = 24000L
  val Chunks = 8 // log files; replay applies one per batch, the tail one per trigger
  val ReplayBuckets = 8
  val MorBuckets = 8
  val MorPoolChunks = 1 // the last chunks, which the MoR rounds upsert
  val MorSlice = 250L // events per upsert
  val RoundsPerCycle = 2
  val PointsPerRound = 8
  val StreamBuckets = 8
  val Backlog = 2 // files landed before the tail starts
  val LandEveryMs = 2000L // steady-phase arrival interval of the landing thread
  val TriggerMs = 100L
  val WaitLimitMs = 60000L

  private val cores = spark.sparkContext.defaultParallelism
  private val cfg = ChangeGen.Config(nEvents = Events,
    nDomains = shape.nDomains, pagesPerDomain = shape.pagesPerDomain,
    seed = seed, v1Frac = 0.0, v2Frac = 0.0)
  private val perChunk = Events / Chunks

  /** samples per end-to-end or per-layer quantity */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** single values (per-layer counters, ratios) */
  val values = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer[String]()

  /** Off for the untraced neighbours of a traced replay pass: their
    * operations still run and are checked.
    */
  var recording = true

  private def sample(k: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(k, ArrayBuffer()) += v

  /** Time one operation into an engine layer. */
  private def timed[A](name: String, layer: String)(body: => A): (Double, A) = {
    attempted += 1
    tracer.span(name, layer) {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
  }

  /** A failed check marks one attempted operation as failed. Checks are
    * computed with tracing off, so they stay out of the per-layer numbers.
    */
  private def verify(ok: => Boolean, what: => String): Unit =
    if (!untraced(ok)) { failed += 1; problems += what }

  private def untraced[A](body: => A): A = {
    val was = tracer.enabled
    tracer.enabled = false
    try body finally tracer.enabled = was
  }

  private def dir(name: String): String = work.resolve(name).toString

  private def readChunks(paths: Seq[Path]): DataFrame =
    spark.read.schema(CdcStream.chunkSchema(3)).parquet(paths.map(_.toString): _*)

  private val userCols = Seq("url", "warc_ts", "html", "text", "lang", "content_len")

  /** Order-independent content hash of a user view: (rows, hash sum). */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(userCols.map(col): _*), lit(1L << 40)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Latest event per url over `events`, deletes dropped: what the lake's
    * user view must hold after applying exactly those events.
    */
  private def reference(events: DataFrame): DataFrame =
    Dedup.latestPerKeyWindow(events).filter(col("op") =!= "D")
      .select(userCols.map(col): _*)

  /** Fingerprint of the reference over the log's events below `lsnEnd`. */
  def referenceBelow(in: Inputs, lsnEnd: Long): (Long, Long) = untraced(
    fingerprint(reference(readChunks(in.chunks).filter(col("lsn") < lsnEnd))))

  // ------------------------------------------------------------------
  // set-up

  final case class Inputs(logDir: Path, chunks: Seq[Path])

  /** Write the log as single-file chunks (the tail takes one per trigger),
    * several chunks at a time.
    */
  private def writeLog(logDir: Path): Seq[Path] = {
    Files.createDirectories(logDir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (0 until Chunks).map { i => Future {
        val tmp = logDir.resolve(s"_gen-$i")
        ChangeGen.eventsRange(spark, cfg, i * perChunk, (i + 1) * perChunk)
          .coalesce(1).write.parquet(tmp.toString)
        val part = Fs.list(tmp).find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = logDir.resolve(f"chunk-$i%05d-v3.parquet")
        Files.move(part, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + i * 1000L))
        Fs.deleteRecursively(tmp)
        dst
      }}
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Generate the log SetupReps times (`setup_s` is their median; the
    * first also warms the JIT); the last copy feeds the phases.
    */
  def setup(): Inputs = {
    var last: Inputs = null
    (0 until SetupReps).foreach { rep =>
      if (last != null) Fs.deleteRecursively(last.logDir)
      val logDir = work.resolve(s"log-$rep")
      val t0 = System.nanoTime()
      last = Inputs(logDir, tracer.span("setup", Layers.Setup)(writeLog(logDir)))
      sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    last
  }

  // ------------------------------------------------------------------
  // replay into fresh copy-on-write tables

  private var passes = 0

  /** One replay pass into a fresh table; returns its wall seconds. */
  def replayPass(in: Inputs, ref: (Long, Long)): Double = {
    val pass = passes
    passes += 1
    val d = dir(s"replay-$pass")
    LakeTable.create(spark, d, schemaId = 3, numBuckets = ReplayBuckets)
    val t0 = System.nanoTime()
    val (sec, stats) = timed("replay", Layers.Replay) {
      CdcStream.replayChunks(spark, in.logDir.toString, d)
    }
    val t1 = System.nanoTime()
    val applied = stats.filter(_.applied)
    val events = applied.map(_.eventsIn).sum
    sample("ingest_events_per_s", events / sec)
    val table = LakeTable.load(spark, d)
    verify(events == Events && applied.size == Chunks,
      s"replay pass $pass applied $events events in ${applied.size} batches")
    verify(fingerprint(table.readUser()) == ref,
      s"replay pass $pass: table differs from the latest-per-key reference")
    // the path each batch took, by Merge's own test: the chunk is larger
    // than a quarter of the table before it → full rewrite, else prune
    untraced {
      val pruned = (1 to table.currentVersion).map(table.snapshot).count { s =>
        s.epoch.exists(i =>
          Files.size(in.chunks(i.toInt)) * 4 <= table.snapshot(s.version - 1).totalBytes)
      }
      values("replay.prune_frac") = pruned.toDouble / Chunks
    }
    if (tracer.enabled) untraced {
      applied.foreach { s =>
        sample("replay.batch_ms", s.wallMs.toDouble)
        sample("merge.touched_buckets", s.touchedBuckets.toDouble)
      }
      sample("replay.first_batch_ms", applied.head.wallMs.toDouble)
      sample("merge.events", events.toDouble)
      sample("merge.conflicts", applied.map(_.conflicts).sum.toDouble)
      sample("merge.rows_written", rowsWritten(table, 1 to table.currentVersion))
      val jobs = jobsBetween(t0, t1)
      sample("replay.prefetch_busy_s", jobs.filter(_.pool == "prefetch")
        .map(j => (j.endNs - j.startNs) / 1e9).sum)
      sample("replay.critical_busy_s", jobs.filter(_.pool != "prefetch")
        .map(j => (j.endNs - j.startNs) / 1e9).sum)
    }
    // deleted while young: where the file system discards freed blocks,
    // deleting files after writeback costs milliseconds each
    Fs.deleteRecursively(Paths.get(d))
    sec
  }

  private def jobsBetween(t0: Long, t1: Long): Seq[tracer.JobAcc] = {
    import scala.jdk.CollectionConverters._
    tracer.finishedJobs.asScala.map(_._2)
      .filter(j => j.startNs >= t0 && j.endNs <= t1 && j.endNs > 0).toSeq
  }

  private def newFiles(t: LakeTable, v: Int): Seq[graft.lake.DataFile] = {
    val before = t.snapshot(v - 1).files.map(_.path).toSet
    t.snapshot(v).files.filterNot(f => before.contains(f.path))
  }

  private def rowsWritten(t: LakeTable, versions: Seq[Int]): Double =
    versions.map(v => newFiles(t, v).map(_.rows).sum).sum.toDouble

  // ------------------------------------------------------------------
  // merge-on-read upserts and reads of the new head

  /** One event of an upserted url, for the expected results of point
    * lookups, counts and changelogs round by round.
    */
  final case class Ev(tsMs: Long, lsn: Long, del: Boolean, contentLen: Long,
      htmlLen: Long)

  private def winner(evs: Seq[Ev], below: Long): Option[Ev] = {
    val e = evs.filter(_.lsn < below)
    if (e.isEmpty) None else Some(e.maxBy(x => (x.tsMs, x.lsn)))
  }

  /** A `write-mode=mor` table bootstrapped, untimed, from all chunks but
    * the last MorPoolChunks in one batch. Round r upserts the pool's r-th
    * slice of MorSlice events, reads the new head and compacts. Every
    * result is checked against a per-url model of the pool's urls.
    */
  final class Mor(in: Inputs) {
    private val morDir = dir("mor")
    private val poolLo = (Chunks - MorPoolChunks) * perChunk
    /** Rounds the pool holds: one per slice. */
    val rounds: Int = (MorPoolChunks * perChunk / MorSlice).toInt
    private val table = untraced {
      val t = LakeTable.create(spark, morDir, schemaId = 3, numBuckets = MorBuckets)
      Merge.applyBatch(spark, t, readChunks(in.chunks.dropRight(MorPoolChunks)),
        epoch = 0L, batchSchemaVersion = 3)
      t.updateProperties(Map("write-mode" -> "mor"))
      t
    }
    private val pool = readChunks(in.chunks.takeRight(MorPoolChunks))
    // every event of the pool's urls, and the bootstrapped view's
    // (rows, html bytes)
    private val (evsByUrl, base) = untraced {
      val evs = readChunks(in.chunks).join(pool.select("url").distinct(), "url")
        .select(col("url"), unix_millis(col("warc_ts")), col("lsn"),
          col("op") === "D", coalesce(col("content_len"), lit(-1L)),
          coalesce(octet_length(col("html")).cast("long"), lit(0L)))
        .collect().toSeq
        .map(r => r.getString(0) -> Ev(r.getLong(1), r.getLong(2), r.getBoolean(3),
          r.getLong(4), r.getLong(5)))
        .groupMap(_._1)(_._2)
      val b = reference(readChunks(in.chunks.dropRight(MorPoolChunks)))
        .agg(count(lit(1)), sum(octet_length(col("html")))).head()
      (evs, (b.getLong(0), b.getLong(1)))
    }
    private var expCount = base._1
    private var expHtml = base._2
    private val rng = new scala.util.Random(seed * 7919L + 17L)
    private var next = 0
    private var deltaMax = 0
    private var lastFold = -1 // version before the last fold

    private def bounds(r: Int): (Long, Long) =
      (poolLo + r * MorSlice, poolLo + (r + 1) * MorSlice)

    /** Upsert the next slice, read the new head, then fold. Reads always
      * see one delta layer: with deeper stacks between folds, each run's
      * read samples mixed two depths and their median jumped between them.
      */
    def round(): Unit = {
      val r = next
      next += 1
      val traced = tracer.enabled
      val (lo, hi) = bounds(r)
      val batch = pool.filter(col("lsn") >= lo && col("lsn") < hi)
      val (up, st) = timed("upsert", Layers.Merge) {
        Merge.applyBatch(spark, table, batch, epoch = r + 1L, batchSchemaVersion = 3)
      }
      sample("upsert_p50_s", up)
      verify(st.applied && st.eventsIn == hi - lo,
        s"mor round $r applied=${st.applied} events=${st.eventsIn}")
      // the model's change: only the slice's urls move
      val urls = evsByUrl.collect {
        case (u, evs) if evs.exists(e => e.lsn >= lo && e.lsn < hi) => u
      }.toSeq.sorted
      var expChanges = 0L
      urls.foreach { u =>
        val evs = evsByUrl(u)
        val b = winner(evs, lo).filterNot(_.del)
        val a = winner(evs, hi)
        if (a.exists(_.lsn >= lo)) expChanges += 1
        val af = a.filterNot(_.del)
        expCount += af.size - b.size
        expHtml += af.map(_.htmlLen).sum - b.map(_.htmlLen).sum
      }

      val v = if (traced) {
        val (ms, s) = timed("snapshot_load", Layers.Meta) {
          LakeTable.load(spark, morDir).currentSnapshot
        }
        sample("lake.snapshot_load_ms", ms * 1000)
        val nf = untraced(newFiles(table, s.version))
        sample("lake.bytes_written_per_upsert", nf.map(_.bytes).sum.toDouble)
        sample("merge.events", st.eventsIn.toDouble)
        sample("merge.conflicts", st.conflicts.toDouble)
        sample("merge.rows_written", nf.map(_.rows).sum.toDouble)
        sample("merge.touched_buckets", st.touchedBuckets.toDouble)
        deltaMax = math.max(deltaMax, untraced(s.files.count(_.delta)))
        s.version
      } else table.currentVersion

      val (sc, html) = timed("scan", Layers.Scan) {
        table.readUser().agg(sum(octet_length(col("html")))).head().getLong(0)
      }
      sample("scan_p50_s", sc)
      verify(html == expHtml, s"mor round $r: html bytes $html, expected $expHtml")
      val (cn, n) = timed("count", Layers.Count)(table.readUser().count())
      sample("count_p50_s", cn)
      verify(n == expCount, s"mor round $r: count $n, expected $expCount")
      if (traced) { sample("scan.rows", n.toDouble); sample("count.rows", n.toDouble) }

      rng.shuffle(urls).take(PointsPerRound).foreach { u =>
        val q = table.readUser().filter(col("url") === u)
        val (ps, rows) = timed("point", Layers.Point)(q.collect())
        sample("point_p50_s", ps)
        val exp = winner(evsByUrl(u), hi).filterNot(_.del)
        verify(rows.length == exp.size && exp.forall { e =>
          val row = rows.head
          row.getTimestamp(1).getTime == e.tsMs && row.getLong(5) == e.contentLen
        }, s"mor round $r: point lookup of $u returned ${rows.length} rows")
        if (traced) sample("point.files_read", untraced(filesRead(q)))
      }

      val (ch, nch) = timed("changes", Layers.Changes) {
        table.changesBetween(v - 1, v).count()
      }
      sample("changes_p50_s", ch)
      verify(nch == expChanges,
        s"mor round $r: changesBetween returned $nch rows, expected $expChanges")
      if (traced) sample("changes.rows", nch.toDouble)
      fold()
    }

    /** Compact the delta layers; the head must equal the latest-per-key
      * reference over the bootstrap plus every applied slice, before and
      * after.
      */
    private def fold(): Unit = {
      val before = table.currentSnapshot
      lastFold = before.version
      val (cs, _) = timed("compact", Layers.Compact)(Maintenance.compact(spark, table))
      val after = table.currentSnapshot
      sample("compact_s", cs)
      sample("storage_amp", before.totalBytes.toDouble / after.totalBytes)
      verify(table.readUser().count() == expCount,
        s"mor count after $next rounds and a fold differs from $expCount")
      if (tracer.enabled) untraced {
        values("lake.versions") = before.version
        values("lake.files_live") = before.fileCount
        values("lake.delta_files_max") = deltaMax
        values("compact.files_before") = before.fileCount
        values("compact.files_after") = after.fileCount
        sample("compact.bytes_rewritten", newFiles(table, after.version).map(_.bytes).sum.toDouble)
      }
    }

    /** The head before and after the last fold must equal the
      * latest-per-key reference over the bootstrap plus every applied
      * slice.
      */
    def finish(): Unit = {
      val ref = referenceBelow(in, bounds(next - 1)._2)
      verify(fingerprint(table.readUser(table.snapshot(lastFold))) == ref,
        s"mor head after $next rounds differs from the reference before compaction")
      verify(fingerprint(table.readUser()) == ref,
        s"mor head after $next rounds differs from the reference after compaction")
    }
  }

  /** Files the plain scan opened plus bucket tasks of the layered scan. */
  private def filesRead(q: DataFrame): Double =
    q.queryExecution.executedPlan.collectLeaves().map { p =>
      p.metrics.get("numFiles").map(_.value.toDouble).getOrElse(
        p match {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size.toDouble
          case _ => 0.0
        })
    }.sum

  // ------------------------------------------------------------------
  // streaming tail after an outage, then open-loop arrivals,
  // with a replica following the tail's table

  /** Backlog files, then `steady` more, one per LandEveryMs. */
  def stream(in: Inputs, steady: Int): Unit = {
    val k = Backlog
    val files = k + steady
    require(files <= Chunks, s"the log holds $Chunks files, the stream needs $files")
    val ref = referenceBelow(in, files * perChunk)
    val land = work.resolve("land")
    Files.createDirectories(land)
    val src = dir("stream-src")
    val rep = dir("stream-replica")
    LakeTable.create(spark, src, schemaId = 3, numBuckets = StreamBuckets)
    val srcT = LakeTable.load(spark, src)
    // a hidden name is invisible to the file source until the rename
    def landFile(i: Int): Long = {
      val name = in.chunks(i).getFileName.toString
      val tmp = land.resolve("." + name)
      Files.createLink(tmp, in.chunks(i))
      Files.move(tmp, land.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    def maxLsn(i: Int): Long = (i + 1) * perChunk - 1
    def hw(s: Snapshot): Long =
      s.summary.get("lsn-high-water").map(_.toLong).getOrElse(-1L)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val limit = System.currentTimeMillis() + WaitLimitMs
      while (!cond) {
        if (System.currentTimeMillis() > limit)
          throw new IllegalStateException(s"stream: timed out waiting for $what")
        Thread.sleep(20)
      }
    }

    (0 until k).foreach(landFile)
    val landed = ArrayBuffer.fill(k)(System.currentTimeMillis())
    val scheduled = ArrayBuffer[Long]()
    val tStart = System.currentTimeMillis()
    attempted += 2
    val tail = CdcStream.tail(spark, land.toString, src, dir("ck-tail"),
      schemaVersion = 3, maxFilesPerTrigger = 1,
      trigger = Trigger.ProcessingTime(TriggerMs))
    val replica = try ChangeFeed.replicateStream(spark, src, rep, dir("ck-replica"),
      trigger = Trigger.ProcessingTime(TriggerMs))
    catch { case e: Throwable => tail.stop(); throw e }
    var lateMax = 0L
    try {
      waitFor("the backlog")(hw(srcT.currentSnapshot) >= maxLsn(k - 1))
      // open loop: file j is due at t0 + (j+1)·interval however the tail is doing
      val t0 = System.currentTimeMillis()
      val lander = new Thread(() => (0 until steady).foreach { j =>
        val due = t0 + (j + 1) * LandEveryMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val at = landFile(k + j)
        landed.synchronized { landed += at; scheduled += due }
        lateMax = math.max(lateMax, at - due)
      }, "perfbench-lander")
      lander.start()
      lander.join()
      waitFor("the last file")(hw(srcT.currentSnapshot) >= maxLsn(files - 1))
      tail.stop()
      val head = srcT.currentVersion
      waitFor("the replica")(replica.recentProgress.exists(p =>
        p.sources.headOption.exists(s => Option(s.endOffset).exists(_.trim == head.toString))))
      replica.stop()

      // commit-ts of every source snapshot, in version order
      val srcSnaps = (1 to head).map(srcT.snapshot)
      def commitTs(s: Snapshot): Long = s.summary("commit-ts").toLong
      def coveredAt(lsn: Long): Long = commitTs(srcSnaps.find(hw(_) >= lsn).get)
      sample("catchup_events_per_s",
        k * perChunk / ((coveredAt(maxLsn(k - 1)) - tStart) / 1000.0))
      (0 until steady).foreach { j =>
        sample("tail_lag_p50_s", (coveredAt(maxLsn(k + j)) - scheduled(j)) / 1000.0)
      }
      // replica batch → source version it reached, then its commit time
      val repT = LakeTable.load(spark, rep)
      val reached: Map[Long, Int] = replica.recentProgress.flatMap { p =>
        p.sources.headOption.flatMap(s => Option(s.endOffset))
          .flatMap(_.trim.toIntOption).map(p.batchId -> _)
      }.toMap
      val repCommits = (1 to repT.currentVersion).map(repT.snapshot).flatMap { s =>
        s.epoch.flatMap(reached.get).map(_ -> commitTs(s))
      }.sortBy(_._2)
      srcSnaps.filter(s => commitTs(s) >= t0).foreach { s =>
        repCommits.find(_._1 >= s.version) match {
          case Some((_, ts)) => sample("replica_lag_p50_s", (ts - commitTs(s)) / 1000.0)
          case None => verify(false, s"replica never reached source v${s.version}")
        }
      }
      values("gen.late_ms_max") = lateMax.toDouble

      verify(fingerprint(srcT.readUser()) == ref,
        "tail table differs from the latest-per-key reference")
      verify(fingerprint(repT.readUser()) == ref, "replica differs from its source")

      if (tracer.enabled) {
        def durations(q: org.apache.spark.sql.streaming.StreamingQuery, prefix: String): Unit = {
          val ps = q.recentProgress.filter(_.numInputRows > 0)
          values(s"$prefix.triggers") = ps.length
          ps.foreach { p =>
            val d = p.durationMs
            val trig = d.getOrDefault("triggerExecution", 0L).toDouble
            val add = d.getOrDefault("addBatch", 0L).toDouble
            sample(s"$prefix.trigger_ms", trig)
            sample(s"$prefix.addbatch_ms", add)
            sample(s"$prefix.framework_ms", trig - add)
          }
        }
        durations(tail, "tail")
        durations(replica, "replica")
        values("replica.versions_behind_max") = replica.recentProgress
          .flatMap(_.sources.headOption)
          .flatMap(s => Option(s.metrics).flatMap(m => Option(m.get("versionsBehindLatest"))))
          .map(_.toDouble).maxOption.getOrElse(0.0)
        // files landed but not yet applied, at every landing and commit
        val done = (0 until files).map(i => coveredAt(maxLsn(i)))
        val times = (landed ++ done).sorted
        values("tail.backlog_files_max") = times.map(t =>
          landed.count(_ <= t) - done.count(_ <= t)).max.toDouble
      }
    } finally {
      tail.stop()
      replica.stop()
      Seq(src, rep, dir("ck-tail"), dir("ck-replica"), land.toString)
        .foreach(d => Fs.deleteRecursively(Paths.get(d)))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
