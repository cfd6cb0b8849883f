package graft.cdc

import graft.core.SchemaRegistry
import graft.lake.{CommitConflict, LakeTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The binlog tail (SURVEY.md §2.11): two drivers over the same
  * [[Merge.applyBatch]] core.
  *
  *  - [[tail]]: Structured Streaming file source → foreachBatch(dedup ∘
  *    merge). Spark's checkpoint makes batch assignment deterministic
  *    (fixed maxFilesPerTrigger); the epoch gate in the merge makes the
  *    replayed batch after a crash a no-op → exactly-once end to end.
  *  - [[replayChunks]]: chunk-ordered replay for mixed-schema logs — each
  *    chunk file is read with its own footer schema and applied at epoch =
  *    chunk index, exercising registry evolution mid-log. Resume needs no
  *    separate checkpoint: the epoch gate alone skips committed chunks.
  *    (Reference analog: the completed-set resume scan + replay bound
  *    `objectId <= 9692809`,
  *    /root/reference/project_setup/round3_setup/extract_submission_files.R:19.)
  */
object CdcStream {

  /** Gate namespace for log-ordered REPLAY epochs (chunk indexes), kept
    * separate from batch callers' `last-epoch` so the two sequences
    * cannot swallow each other's epochs.
    */
  val StreamGateKey = "stream-epoch"

  /** Gate namespace for a streaming tail, derived from its CHECKPOINT:
    * Spark batchIds are only meaningful within one checkpoint's file-log
    * (a fresh checkpoint renumbers batches, and maxFilesPerTrigger
    * changes the files-per-batch mapping), so sharing one gate across
    * checkpoints could silently skip never-applied batches (round-3
    * review). A per-checkpoint namespace turns that failure mode into
    * safe REPROCESSING — re-applied events reconverge by the argmax
    * merge semantics — at the cost of redundant work after an
    * intentional checkpoint reset.
    */
  def gateKeyFor(checkpointDir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
    f"$StreamGateKey-${d(0)}%02x${d(1)}%02x${d(2)}%02x${d(3)}%02x"
  }

  /** One-time namespace upgrade (round-3 advice): a checkpoint that
    * already committed batches under the legacy SHARED `stream-epoch`
    * gate resumes under its per-checkpoint namespace with no high-water,
    * so its crash-replayed batch would reapply — state reconverges by
    * argmax, but metrics.jsonl / ``t$metrics`` would record the batch's
    * lineage twice. Seed the new namespace from the legacy high-water,
    * but ONLY when the checkpoint has committed batches (i.e. it really
    * predates the upgrade): a FRESH checkpoint must not inherit a replay
    * run's chunk epochs — its Spark batchIds start at 0 and an inherited
    * gate would silently swallow them (the exact bug the per-checkpoint
    * namespaces fixed). For such pre-upgrade mixed histories the seed
    * reproduces the pre-upgrade gating verbatim — no new failure mode.
    */
  private[graft] def seedGateFromLegacy(table: LakeTable,
      checkpointDir: String): Unit = {
    val gk = gateKeyFor(checkpointDir)
    val snap = table.currentSnapshot
    if (snap.summary.get(gk).isEmpty)
      for {
        b <- lastCommittedBatch(checkpointDir) // fresh checkpoints never seed
        legacy <- snap.summary.get(StreamGateKey).map(_.toLong)
        // SOUNDNESS GUARD (round-4 review): seed only when the legacy
        // high-water is consistent with THIS checkpoint's own history —
        // a pure pre-upgrade tail leaves legacy ∈ {B, B+1} (the last
        // applied batchId; +1 when it crashed between applyBatch and the
        // checkpoint commit, which is exactly the replayed batch the
        // seed must gate). A legacy high-water ABOVE B+1 was inflated by
        // a chunk replay sharing the old namespace; seeding from it
        // would silently swallow this tail's real future batches (data
        // loss, not lineage dup) — so we refuse and accept the one-time
        // duplicate-lineage window instead (reprocess-over-swallow, the
        // same bias as the per-checkpoint namespace design itself).
        if legacy <= b + 1
      } {
        try table.updateProperties(Map(gk -> legacy.toString))
        catch { case e: CommitConflict =>
          // lost a commit race: the seed is a best-effort lineage
          // dedup — without it the replayed batch double-logs lineage
          // (the documented pre-upgrade window), never corrupts state
          System.err.println(s"[graft] legacy gate seed for $gk lost a " +
            s"commit race (${e.getMessage}); replayed pre-upgrade batch " +
            "may double-log lineage once")
        }
      }
  }

  /** The last batchId a checkpoint committed (`commits/<id>`), if any. */
  private def lastCommittedBatch(checkpointDir: String): Option[Long] = {
    val commits = Paths.get(checkpointDir, "commits")
    if (!Files.isDirectory(commits)) None
    else graft.core.Fs.list(commits)
      .flatMap(_.getFileName.toString.toLongOption)
      .maxOption
  }

  /** Structured Streaming tail of a uniform-schema log directory. Besides
    * the per-batch lineage in metrics.jsonl, Spark's own trigger progress
    * (input/processing rates, trigger duration — the LAG side of the
    * north star's "throughput/lag metrics") streams into
    * stream_progress.jsonl via a self-detaching listener.
    *
    * Trigger modes (round-2 verdict #1):
    *  - `Trigger.AvailableNow()` (default): drain the log and exit — the
    *    batch-oriented catch-up / bench mode;
    *  - `Trigger.ProcessingTime(interval)`: a LONG-LIVED production tail —
    *    files dropped into the log after start are picked up on the next
    *    trigger without a restart (the reference's re-polled queue,
    *    /root/reference/query_queues.sh:1-19, as one resident stream).
    * Both share the same checkpoint + epoch gate, so switching modes
    * mid-lifecycle (drain, then follow) resumes exactly-once.
    */
  def tail(spark: SparkSession, logDir: String, tableDir: String,
      checkpointDir: String, schemaVersion: Int = SchemaRegistry.latestVersion,
      maxFilesPerTrigger: Int = 1,
      quarantineDir: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val table = LakeTable.load(spark, tableDir)
    seedGateFromLegacy(table, checkpointDir) // pre-upgrade checkpoints only
    val eventSchema = chunkSchema(schemaVersion)
    val events = spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("latestFirst", "false")
      .parquet(logDir)

    // ---- speculative next-batch prefetch ----
    // Spark owns batching here, but the next trigger's file set is
    // PREDICTABLE: the file source takes the oldest `maxFilesPerTrigger`
    // not-yet-processed files (latestFirst = false). So after each batch
    // we list the log, predict the next file set and prepare it (see
    // [[Prefetch]]) — the replay pipeline. SAFETY: the prepared plans are
    // handed to the merge ONLY when the actual batch's file set equals
    // the predicted set exactly; a mispredicted prefetch (files landing
    // out of modification-time order, a rival consumer) is released,
    // never applied. A wrong prediction costs one wasted background scan;
    // it can never change what the merge computes.
    val hconf = spark.sparkContext.hadoopConfiguration
    val logFs = new org.apache.hadoop.fs.Path(logDir).getFileSystem(hconf)
    def norm(p: String): String =
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    def listLogFiles(): Seq[org.apache.hadoop.fs.FileStatus] = {
      val roots = Option(logFs.globStatus(new org.apache.hadoop.fs.Path(logDir)))
        .map(_.toSeq).getOrElse(Nil)
      roots.flatMap { st =>
        if (st.isDirectory) logFs.listStatus(st.getPath).toSeq else Seq(st)
      }.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }
    }
    // the actual file set of a delivered batch comes from the file
    // source's own metadata log under the checkpoint (sources/0/<id>,
    // the v1 FileStreamSourceLog format — one JSON entry per admitted
    // file, compacted every N batches into <id>.compact carrying the
    // full history). foreachBatch's DataFrame does not expose
    // inputFiles, and this log is the ground truth Spark itself replays
    // from. Unreadable/format-drifted log ⇒ empty set ⇒ the prediction
    // never matches and prefetch silently disables — never misapplies.
    val srcLogDir = new org.apache.hadoop.fs.Path(checkpointDir, "sources/0")
    val srcFs = srcLogDir.getFileSystem(hconf)
    val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def logEntries(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
      if (!srcFs.exists(p)) return Nil
      val in = srcFs.open(p)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      txt.linesIterator
        .filter(l => l.nonEmpty && l.charAt(0) == '{').flatMap { l =>
          try {
            val n = jsonMapper.readTree(l)
            Option((n.get("path").asText(), n.get("batchId").asLong()))
          } catch { case _: Exception => None }
        }.toSeq
    }
    def filesOfBatch(batchId: Long): Set[String] = {
      val plain = new org.apache.hadoop.fs.Path(srcLogDir, batchId.toString)
      val p = if (srcFs.exists(plain)) plain
        else new org.apache.hadoop.fs.Path(srcLogDir, s"$batchId.compact")
      logEntries(p).filter(_._2 == batchId).map(e => norm(e._1)).toSet
    }
    // files already processed: on a RESUMED checkpoint, those of every
    // committed batch — recovered before the first prediction, so a
    // restart predicts its first batch like any other
    val seen = scala.collection.mutable.HashSet[String]()
    lastCommittedBatch(checkpointDir).foreach { last =>
      if (srcFs.exists(srcLogDir)) srcFs.listStatus(srcLogDir).foreach { st =>
        logEntries(st.getPath).filter(_._2 <= last)
          .foreach(e => seen += norm(e._1))
      }
    }
    val ahead = new Prefetch[Set[String]]()
    def prefetchNext(): Unit = {
      // the source's order: oldest modification time first, path as the
      // deterministic tiebreak. The equality gate makes a mismatch with
      // Spark's exact internal ordering harmless.
      val next = listLogFiles()
        .filterNot(st => seen.contains(norm(st.getPath.toString)))
        .sortBy(st => (st.getModificationTime, st.getPath.toString))
        .take(maxFilesPerTrigger)
      val paths = next.map(_.getPath.toString)
      // the estimator's unit: file bytes, here and for the applied batch
      if (paths.nonEmpty)
        ahead.prepare(paths.map(norm).toSet,
          spark.read.schema(eventSchema).parquet(paths: _*), next.map(_.getLen).sum)
    }

    // progress listener registered BEFORE start and bound by query name in
    // onQueryStarted (delivered synchronously with start()): registering
    // after start raced a fast first AvailableNow micro-batch, silently
    // dropping its progress line (round-2 advice)
    // prefetch the first batch BEFORE the stream starts: the first
    // trigger otherwise pays the un-overlapped key+winners scans ON TOP
    // of Spark's stream-start planning (measured: first tail batch ~3x
    // steady state)
    prefetchNext()
    val queryName = s"graft-tail-${java.util.UUID.randomUUID().toString.take(8)}"
    val remove = attachProgressSink(spark, queryName, tableDir,
      // a prediction left over when the query ends (stop mid-drain, a
      // ProcessingTime follower shut down) must release its cached blocks
      onTerminated = () => ahead.close())
    try {
      events.writeStream
        .queryName(queryName)
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val files = filesOfBatch(batchId)
          val bytes = files.iterator.map(p =>
            logFs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
          val prepared = ahead.take(files) // the exact file-set gate
          // launch batch k+1's prefetch BEFORE applying batch k — the
          // replay pipeline's shape: the background scans (FAIR pool)
          // overlap this batch's resolve+write, not the next batch's own
          // critical path
          seen ++= files
          if (files.nonEmpty) prefetchNext()
          // Catalyst's size estimate lets the merge pick prune vs
          // full-rewrite without running a job
          val hint = batch.queryExecution.optimizedPlan.stats.sizeInBytes
          // retrying: an offline compact/rebucket racing the resident
          // tail must cost the loser a re-run, not fail the stream
          val stats = Merge.applyBatchRetrying(batch.sparkSession, table, batch,
            epoch = batchId, batchSchemaVersion = schemaVersion,
            batchBytesHint = Some(hint.min(BigInt(Long.MaxValue)).toLong),
            prepared = prepared,
            quarantineDir = quarantineDir,
            // production tail emits the north star's per-partition lineage
            partitionLineage = true,
            // stream epochs (batchIds) gate in their own PER-CHECKPOINT
            // namespace so an interleaved SQL/CLI merge — or a replay, or
            // a tail on a different checkpoint — cannot swallow a batch
            gateKey = gateKeyFor(checkpointDir))
          if (stats.applied) {
            Metrics.append(tableDir, stats)
            ahead.observe(stats, bytes)
          }
        }
        .start()
    } catch { case e: Throwable => remove(); ahead.close(); throw e }
  }

  /** Pipe the named query's StreamingQueryProgress lines to the table's
    * metrics dir; removes itself when the query terminates. Returns a
    * handle to detach early (used if start() itself fails — the name
    * would never match and the listener would leak).
    */
  private def attachProgressSink(spark: SparkSession,
      queryName: String, tableDir: String,
      onTerminated: () => Unit = () => ()): () => Unit = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val l = new StreamingQueryListener {
      // runId (not id): a restart from the same checkpoint keeps the query
      // id but mints a new runId, so matching on runId scopes each
      // listener to exactly the run that registered it
      @volatile private var runId: java.util.UUID = null
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == queryName) runId = e.runId
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == runId)
          Metrics.appendStreamProgress(tableDir, e.progress.json)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == runId) {
          try onTerminated()
          catch { case t: Throwable => System.err.println(
            s"[graft] tail cleanup failed: ${t.getMessage}") }
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(l)
    () => spark.streams.removeListener(l)
  }

  /** Blocking convenience: tail until the log is drained. */
  def tailAll(spark: SparkSession, logDir: String, tableDir: String,
      checkpointDir: String, schemaVersion: Int = SchemaRegistry.latestVersion,
      maxFilesPerTrigger: Int = 1,
      quarantineDir: Option[String] = None): Unit = {
    val q = tail(spark, logDir, tableDir, checkpointDir, schemaVersion,
      maxFilesPerTrigger, quarantineDir)
    q.awaitTermination()
  }

  /** Chunk-ordered replay of a (possibly mixed-schema) log. Chunks are the
    * `chunk-<i>-v<v>.parquet` files written by ChangeGen.writeLog; epoch =
    * chunk index i, schema version = v. Restart-safe via the epoch gate.
    */
  def replayChunks(spark: SparkSession, logDir: String,
      tableDir: String, maxChunks: Int = Int.MaxValue): Seq[MergeStats] = {
    val table = LakeTable.load(spark, tableDir)
    val Chunk = "chunk-(\\d+)-v(\\d+)\\.parquet".r
    // consult the gate ONCE up front and skip committed chunks BEFORE any
    // prefetch: the per-batch gate inside applyBatch still protects
    // racing writers, but without this a resume of a mostly-committed log
    // would run two full-chunk prefetch jobs per skipped chunk — O(log
    // IO) instead of O(metadata) (round-3 review). The promised resume
    // contract ("the epoch gate alone skips committed chunks") now holds
    // at its intended cost.
    val committed = table
      .lastCommittedEpoch(table.currentSnapshot, StreamGateKey)
      .getOrElse(-1L)
    val chunks = graft.core.Fs.list(Paths.get(logDir)).iterator
      .flatMap { p =>
        p.getFileName.toString match {
          case Chunk(i, v) => Some((i.toInt, v.toInt, p.toString))
          case _ => None
        }
      }.toSeq.sortBy(_._1).take(maxChunks)
      .filter(_._1 > committed)
    def readChunk(v: Int, path: String) =
      // explicit per-version schema: no per-batch footer inference on the
      // driver (a serial cost on every micro-batch)
      spark.read.schema(chunkSchema(v)).parquet(path)
    // pipelined micro-batches: chunk k+1's keys and winners are prepared
    // in the background while chunk k resolves and writes (see
    // [[Prefetch]]), sized by the lagged key-per-chunk-byte estimate
    Prefetch.pipelined[(Int, Int, String)](chunks, c => pathBytes(c._3),
        c => readChunk(c._2, c._3)) { case ((i, v, path), prepared) =>
      val stats = Merge.applyBatchRetrying(spark, table, readChunk(v, path),
        epoch = i.toLong, batchSchemaVersion = v,
        batchBytesHint = Some(pathBytes(path)), prepared = prepared,
        gateKey = StreamGateKey)
      if (stats.applied) Metrics.append(tableDir, stats)
      stats
    }
  }

  private def pathBytes(path: String): Long = {
    val p = Paths.get(path)
    if (Files.isDirectory(p))
      graft.core.Fs.list(p).map(f => Files.size(f)).sum
    else Files.size(p)
  }

  /** The event schema a producer at registry version v emits. */
  def chunkSchema(v: Int): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val data = SchemaRegistry.schemaFor(v)
    StructType(
      Seq(StructField("lsn", LongType, nullable = false),
        StructField("op", StringType, nullable = false)) ++
        data.fields ++
        Seq(StructField("schema_version", IntegerType, nullable = false)))
  }
}

/** Throughput/lag + lineage metrics sink: one JSON line per applied batch
  * under <tableDir>/metrics/metrics.jsonl (north star: metrics sink).
  */
object Metrics {
  def append(tableDir: String, s: MergeStats): Unit = synchronized {
    val dir = Paths.get(tableDir, "metrics")
    Files.createDirectories(dir)
    val evps = if (s.wallMs > 0) s.eventsIn * 1000.0 / s.wallMs else 0.0
    val line =
      s"""{"epoch":${s.epoch},"applied":${s.applied},"events_in":${s.eventsIn},""" +
        s""""rows_applied":${s.rowsApplied},"conflicts":${s.conflicts},""" +
        s""""deletes":${s.deletes},"lsn_min":${s.lsnMin},"lsn_max":${s.lsnMax},""" +
        s""""touched_buckets":${s.touchedBuckets},"wall_ms":${s.wallMs},""" +
        s""""quarantined":${s.quarantined},""" +
        // Locale.ROOT: a comma-decimal default locale would corrupt the
        // JSON line (round-3 review)
        s""""events_per_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(evps))}}""" + "\n"
    Files.writeString(dir.resolve("metrics.jsonl"), line,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  final case class PartitionLineage(bucket: Int, events: Long, keys: Long,
      lsnMin: Long, lsnMax: Long) {
    def conflicts: Long = events - keys
  }

  /** One JSON line per (epoch, touched bucket): the north star's
    * per-partition lineage — source LSN range, rows applied, conflict
    * count at key-bucket granularity.
    */
  def appendPartitionLineage(tableDir: String, epoch: Long,
      rows: Seq[PartitionLineage]): Unit = synchronized {
    val dir = Paths.get(tableDir, "metrics")
    Files.createDirectories(dir)
    val sb = new StringBuilder
    rows.sortBy(_.bucket).foreach { r =>
      sb.append(s"""{"epoch":$epoch,"bucket":${r.bucket},""" +
        s""""events":${r.events},"keys":${r.keys},""" +
        s""""conflicts":${r.conflicts},""" +
        s""""lsn_min":${r.lsnMin},"lsn_max":${r.lsnMax}}""").append('\n')
    }
    Files.writeString(dir.resolve("partition_lineage.jsonl"), sb.toString,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Read back per-partition lineage lines (epoch, then bucket order). */
  def readPartitionLineage(tableDir: String): Seq[(Long, PartitionLineage)] = {
    val f = Paths.get(tableDir, "metrics", "partition_lineage.jsonl")
    if (!Files.exists(f)) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      (n.get("epoch").asLong(),
        PartitionLineage(n.get("bucket").asInt(), n.get("events").asLong(),
          n.get("keys").asLong(), n.get("lsn_min").asLong(),
          n.get("lsn_max").asLong()))
    }.sortBy { case (e, p) => (e, p.bucket) }
  }

  /** One StreamingQueryProgress JSON line per trigger — rates + durations
    * (the lag view; lineage lives in metrics.jsonl keyed by epoch).
    */
  def appendStreamProgress(tableDir: String, progressJson: String): Unit =
    synchronized {
      val dir = Paths.get(tableDir, "metrics")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("stream_progress.jsonl"),
        progressJson.replaceAll("\\s*\\n\\s*", " ") + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** Read back the per-batch lineage of a table (epoch order). */
  def read(tableDir: String): Seq[MergeStats] = {
    val f = Paths.get(tableDir, "metrics", "metrics.jsonl")
    if (!Files.exists(f)) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      MergeStats(n.get("epoch").asLong(), n.get("applied").asBoolean(),
        n.get("events_in").asLong(), n.get("rows_applied").asLong(),
        n.get("conflicts").asLong(), n.get("deletes").asLong(),
        n.get("lsn_min").asLong(), n.get("lsn_max").asLong(),
        n.get("touched_buckets").asInt(), n.get("wall_ms").asLong(),
        // absent in pre-round-3 lines: default 0
        quarantined = if (n.has("quarantined")) n.get("quarantined").asLong() else 0L)
    }.sortBy(_.epoch)
  }
}
