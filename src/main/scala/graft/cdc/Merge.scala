package graft.cdc

import graft.core.{SchemaRegistry, Schemas}
import graft.lake.{CommitConflict, DataFile, LakeTable, Snapshot}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Lineage emitted per applied batch (north star: per-partition source LSN
  * range, rows applied, conflict count).
  */
final case class MergeStats(
    epoch: Long,
    applied: Boolean,
    eventsIn: Long,
    rowsApplied: Long,
    conflicts: Long,
    deletes: Long,
    lsnMin: Long,
    lsnMax: Long,
    touchedBuckets: Int,
    wallMs: Long,
    quarantined: Long = 0L,
    // true ONLY for the exactly-once gate's not-applied return — callers
    // that retry swallowed epochs (SQL auto-allocation) must distinguish
    // it from a genuinely-empty batch's not-applied, which is a correct
    // no-op even while rival commits advance the table (round-4 review)
    gated: Boolean = false)

/** Join-free copy-on-write MERGE INTO the lake table (SURVEY.md §4.3).
  *
  * Per micro-batch:
  *  1. exactly-once gate: skip if the batch epoch is already committed
  *     (reference analog: the completed-set scan,
  *     /root/reference/upload_data/Submissions/round3/make_round3_prediction_files.R:225-241);
  *  2. schema evolution: if the batch declares a newer registry version,
  *     the snapshot's schemaId advances (old files stay, aligned on read —
  *     reference analog: the V3→V4 dataset switch);
  *  3. batch dedup: latest-per-key via combine-based aggregation
  *     (skew-immune — see [[Dedup]]);
  *  4. target pruning: only data files whose key bucket appears in the
  *     batch are rewritten; untouched files carry forward by reference
  *     (the reference's anti-join gate J5 generalized to file granularity);
  *  5. resolution: union(current, batch-upserts) → max(struct(warc_ts,
  *     lsn, payload)) per url — last-write-wins incl. current rows; a
  *     winning 'D' event drops the key;
  *  6. two-phase publish: write bucket-partitioned parquet under a fresh
  *     commit dir, then atomically publish the manifest with epoch + LSN
  *     range + lineage stamped into the snapshot summary.
  *
  * Scale notes: the only wide exchanges are (a) the batch dedup hash-agg
  * (map-side combined) and (b) the union resolution hash-agg, both keyed
  * by url and both skew-free after dedup (≤ 1 batch row + 1 current row
  * per url). Bucket count bounds rewrite amplification; AQE coalesces the
  * post-agg partitions.
  */
object Merge {

  def bucketOf(url: Column, numBuckets: Int): Column =
    pmod(xxhash64(url), lit(numBuckets)).cast("int")

  /** TEST-ONLY race injector: invoked on the driver immediately before
    * the manifest publish (phase-1 data already written), so a spec can
    * deterministically land a rival commit inside the race window. Specs
    * must reset it (and guard against their own reentrancy) — production
    * callers never set it.
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Apply one change batch (raw events, possibly with duplicates) at the
    * given epoch. `batchSchemaVersion` is the registry version the batch's
    * producer declared.
    */
  private val debug = sys.env.get("GRAFT_MERGE_DEBUG").contains("true")
  private def dbg(epoch: Long, phase: String, t: Long): Long = {
    val now = System.nanoTime()
    if (debug) println(f"[merge $epoch] $phase: ${(now - t) / 1e6}%.0fms")
    now
  }

  /** Table-independent key pass for a batch: per-url argmax + lineage
    * pre-aggregates over (url, warc_ts, lsn, op) only. Because it never
    * reads the table, a driver can compute it for batch k+1 WHILE batch k
    * is still writing (pipelined micro-batches — see [[Prefetch]]).
    */
  def prepareKeys(rawBatch: DataFrame): DataFrame =
    rawBatch
      .select(col("url").cast("string").as("url"),
        col("warc_ts").cast("timestamp").as("warc_ts"),
        col("lsn").cast("long").as("lsn"), col("op"))
      .groupBy("url")
      .agg(max(struct(col("warc_ts"), col("lsn"))).as("win"),
        count(lit(1)).as("cnt"),
        min("lsn").as("lsnMin"), max("lsn").as("lsnMax"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("nDel"))

  /** Table-independent winners prefetch: the raw batch filtered to the
    * latest-per-key winning events, payload included. LSN is globally
    * unique, so a broadcast semi-join on the winners' LSN set selects
    * exactly one event per url. Like [[prepareKeys]] this never reads the
    * table, so a driver can persist it for batch k+1 WHILE batch k is
    * resolving — the full-payload scan (the dominant per-batch cost, ~75%
    * of wall at 8 cores) moves off the critical path.
    *
    * Join strategy (round-3 verdict #4 — the engine decides, not a
    * deployment knob): broadcast when the winner-key COUNT is known to be
    * driver-sized, else a planner-chosen shuffled semi-join on lsn
    * (skew-free — lsn is unique). See [[winnersBroadcast]] for where
    * counts come from and the one path that still defaults to broadcast.
    */
  def prepareWinners(rawBatch: DataFrame, preparedKeys: DataFrame,
      nKeys: Option[Long] = None): DataFrame = {
    val winnerLsns = preparedKeys.select(col("win.lsn").as("lsn"))
    rawBatch.join(
      if (winnersBroadcast(rawBatch.sparkSession, nKeys)) broadcast(winnerLsns)
      else winnerLsns,
      Seq("lsn"), "left_semi")
  }

  /** Winner-semi-join strategy: broadcast iff the winner-key count is
    * known to fit the driver (`graft.merge.broadcastWinnersMaxKeys`,
    * default 10^7 ≈ 80 MB of LSNs). Counts are already on hand on the
    * paths that matter — the prune path's blocking stats agg and the
    * prefetch's materialized key-plan count — so an over-sized
    * micro-batch degrades to a shuffled semi-join instead of OOMing the
    * driver, with no conf intervention. The async-stats full-rewrite
    * path has NO key count without a blocking job (that barrier is the
    * cost the async design exists to avoid), so it keeps the broadcast
    * default, bounded by micro-batch sizing as before.
    * `graft.merge.broadcastWinners` (true/false) still overrides both
    * directions for operators who know better.
    */
  def winnersBroadcast(spark: SparkSession, nKeys: Option[Long]): Boolean =
    spark.conf.getOption("graft.merge.broadcastWinners").map(_.toBoolean)
      .getOrElse {
        val maxKeys = spark.conf
          .getOption("graft.merge.broadcastWinnersMaxKeys")
          .map(_.toLong).getOrElse(10000000L)
        nKeys.forall(_ <= maxKeys)
      }

  def applyBatch(spark: SparkSession, table: LakeTable, rawBatch: DataFrame,
      epoch: Long, batchSchemaVersion: Int,
      batchBytesHint: Option[Long] = None,
      prepared: Option[Prepared] = None,
      quarantineDir: Option[String] = None,
      partitionLineage: Boolean = false,
      gateKey: String = "last-epoch",
      truncate: Boolean = false): MergeStats = {
    def unprepare(): Unit = prepared.foreach { p =>
      p.keys.unpersist(); p.winners.unpersist()
    }
    val t0 = System.nanoTime()
    var tp = t0
    val snap = table.currentSnapshot

    // 1. exactly-once epoch gate — namespaced by driver (gateKey), read
    //    from the snapshot already in hand (no second meta listing):
    //    independent drivers (stream tail vs SQL/CLI batch) keep
    //    independent high-waters so one cannot swallow the other's epochs
    if (table.lastCommittedEpoch(snap, gateKey).exists(_ >= epoch)) {
      unprepare()
      return MergeStats(epoch, applied = false, 0, 0, 0, 0, -1, -1, 0,
        (System.nanoTime() - t0) / 1000000, gated = true)
    }

    // 2. schema evolution via the registry (resolved THROUGH the table so
    //    ALTER TABLE-minted versions work exactly like builtin ones)
    val newSchemaId = math.max(snap.schemaId, batchSchemaVersion)
    if (newSchemaId != snap.schemaId) {
      val ok = SchemaRegistry.canEvolve(
        table.registrySchemaFor(snap.schemaId), table.registrySchemaFor(newSchemaId))
      require(ok, s"illegal schema evolution ${snap.schemaId} -> $newSchemaId")
    }
    val target = table.schemaFor(newSchemaId) // incl. _lsn/_op
    val dataSchema = table.registrySchemaFor(newSchemaId)
    val nb = snap.numBuckets
    val aligned = alignBatch(rawBatch, dataSchema)

    // key-only argmax subplan (batch dedup without moving payload): a
    // narrow scan of (url, warc_ts, lsn, op) — parquet prunes html/text —
    // aggregated per url with map-side partial combine, so a hot url with
    // 10^6 duplicates pre-combines per task (skew-immune, no salting
    // needed). Shuffled bytes: O(distinct urls × 32B), not O(batch payload).
    val perKeyPlan = prepared.map(_.keys).getOrElse(prepareKeys(aligned))
    // T6 late-data lineage (reference analog: SUBMITTED_LATE flag,
    // late_round12/upload_submissions.R:37): winners older than the
    // table's event-time watermark are accepted (upsert is late-tolerant)
    // but counted and the watermark itself is carried forward.
    val prevWatermarkMs = snap.summary.get("watermark-ms").map(_.toLong)
    def statsOf(pk: DataFrame) = pk.agg(
      sum("cnt").as("n"),
      min("lsnMin").as("lsnMin"), max("lsnMax").as("lsnMax"),
      count(lit(1)).as("nKeys"),
      sum("nDel").as("nDeleteEvents"),
      max(unix_millis(col("win.warc_ts").cast("timestamp"))).as("maxTsMs"),
      sum(when(unix_millis(col("win.warc_ts").cast("timestamp"))
        < lit(prevWatermarkMs.getOrElse(Long.MinValue)), 1L).otherwise(0L))
        .as("lateKeys"),
      collect_set(bucketOf(col("url"), nb)).as("buckets"))

    // 3. adaptive pruning. A batch that is small next to the table prunes
    //    target files by key bucket — that needs the batch key set FIRST
    //    (a blocking stats job). A batch comparable to the table touches
    //    ~every bucket anyway, so pruning only adds a barrier: full
    //    rewrite instead, with the lineage stats job running ASYNC behind
    //    the main job and joined before the manifest publish.
    val tableBytes = snap.totalBytes // manifest-ref stats, no manifest reads
    // truncate (K2 / INSERT OVERWRITE): the batch REPLACES the table —
    // always a full rewrite, and the current rows never participate in
    // resolution (reference analog: WRITE_TRUNCATE,
    // /root/reference/upload_data/Teams/upload_team_tables.R:67-80)
    val fullRewrite = truncate ||
      batchBytesHint.exists(b => b > 0 && b * 4 > tableBytes)
    // MERGE-ON-READ (write-mode "mor", persisted table property or
    // per-session `graft.merge.writeMode` override): the batch's winners
    // are appended as per-bucket DELTA files and the touched buckets'
    // existing files carry forward UNRESOLVED — readers fold the layers
    // latest-wins ([[graft.lake.LakeTable.resolveLatest]]) and compaction
    // folds them back into sorted base files. This trades read-side
    // resolution for the CoW path's write amplification: a micro-batch
    // touching a bucket costs O(batch rows in bucket), not O(bucket
    // bytes) — at 10^10 events with hot domains re-touching the same
    // ~256 MB buckets every batch, that is the difference between
    // writing the batch and rewriting the table's hot set each commit.
    // Only the incremental (prune) path runs MoR: once a batch is
    // table-sized (fullRewrite) or a TRUNCATE, rewriting IS the cheaper
    // shape and CoW proceeds as before.
    val morMode = !fullRewrite &&
      spark.conf.getOption("graft.merge.writeMode")
        .orElse(snap.summary.get("write-mode"))
        .getOrElse("cow") == "mor"

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // Everything below may fail mid-flight (write error, lost commit
    // race) AFTER this attempt persisted the key plan; without cleanup a
    // caller that catches and retries accretes orphaned cached blocks
    // (round-3 review). NonFatal lets the early-return control flow (and
    // fatal errors) pass untouched; the early-return paths unpersist on
    // their own.
    try {

    val (stats, touched, currentRaw, statsWall) = if (fullRewrite) {
      // persist: the async stats job and the winner-broadcast build both
      // read this subplan — without the cache the narrow scan runs twice
      // (and thrice with the next batch's prepare-ahead competing)
      if (prepared.isEmpty) perKeyPlan.persist()
      val f = Future { statsOf(perKeyPlan).head() }
      val allBuckets = (0 until nb).toSet
      // truncate: current rows are dropped, not resolved against —
      // readBuckets(Set.empty) is the schema-correct empty frame
      (f, allBuckets,
        table.readBuckets(snap, if (truncate) Set.empty else allBuckets), false)
    } else {
      perKeyPlan.persist()
      val st = statsOf(perKeyPlan).head()
      tp = dbg(epoch, "stats-agg", tp)
      val n = Option(st.getAs[Long]("n")).getOrElse(0L)
      if (n == 0) {
        perKeyPlan.unpersist()
        unprepare()
        return MergeStats(epoch, applied = false, 0, 0, 0, 0, -1, -1, 0,
          (System.nanoTime() - t0) / 1000000)
      }
      val tb = st.getAs[scala.collection.Seq[Int]]("buckets").toSet
      // MoR never reads the touched buckets' current rows — the whole
      // point; resolution happens at read/compaction time
      (Future.successful(st), tb,
        if (morMode) table.readBuckets(snap, Set.empty)
        else table.readBuckets(snap, tb), true)
    }

    // 4. align current rows (old snapshot schema) to the evolved target:
    //    added columns null-backfill, narrow types widen
    val current = LakeTable.align(currentRaw, target)

    // 5. join-back: fetch only the winning events\u2019 payloads. LSN is
    //    globally unique, so a semi-join on the winners\u2019 LSN set selects
    //    exactly one event per url; the batch payload is read once and
    //    NEVER shuffled. Join strategy is the engine's own call: the
    //    prune path hands its stats-agg key count to prepareWinners, so
    //    an over-sized batch takes a shuffled semi-join automatically
    //    (see winnersBroadcast); only the async-stats full-rewrite path
    //    keeps the broadcast default. Then one small latest-wins agg
    //    resolves winners against current rows.
    //    Winning deletes are KEPT as tombstones (_op = 'D') so a late
    //    upsert older than a delete cannot resurrect the key — final state
    //    is a pure argmax over the whole log, independent of batch
    //    boundaries (replay convergence, §7.4 #1).
    // statsWall marks the prune path, whose stats future is already
    // complete — its nKeys is free. The incremental full-rewrite path's
    // stats are still in flight and are NOT awaited (the plan-build
    // barrier is what the async design removes; micro-batch sizing
    // bounds its winner set). TRUNCATE is the exception (round-4
    // review): an INSERT OVERWRITE has no micro-batch sizing knob and
    // its SELECT can carry arbitrarily many keys, while its current-rows
    // side is empty — so the one narrow stats pass is awaited and the
    // winner join sizes itself from the real count.
    val syncKeys: Option[Long] =
      if (statsWall) Some(Await.result(stats, Duration.Zero).getAs[Long]("nKeys"))
      else if (truncate && prepared.isEmpty)
        Option(Await.result(stats, Duration.Inf).getAs[Long]("nKeys"))
      else None
    val winnersRaw = prepared.map(_.winners).getOrElse(
      prepareWinners(rawBatch, perKeyPlan, syncKeys))
    val joined = alignBatch(winnersRaw, dataSchema)
    // T4 quarantine / dead-letter (reference analog: problem_submissions,
    // make_round3_prediction_files.R:54-56,237): a poison event — one whose
    // html does NOT re-extract byte-identically to its text — is routed to
    // a side table instead of killing the job or corrupting the invariant.
    // The key keeps its previous state. Checked at the winners stage where
    // full columns are already decoded; deletes (null html) are exempt.
    // null-SAFE inequality: with a plain =!= a non-null html + NULL text
    // made BOTH filter(bad) and filter(!bad) NULL-drop the row — the
    // event vanished from quarantine AND the merge (round-2 review).
    // <=> is total, so every row lands on exactly one side; an html that
    // extracts to something while text is NULL is itself inconsistent →
    // quarantined.
    val poison = quarantineDir.map { _ =>
      col("html").isNotNull &&
        !(graft.core.TextHtml.extractText(col("html")) <=> col("text"))
    }
    val quarantined: Long = (poison, quarantineDir) match {
      case (Some(bad), Some(qd)) =>
        // persist: the write job and the count job both consume this
        // filter — uncached, each would re-run the winners scan +
        // extractText over the full batch (round-1 verdict #6)
        val q = joined.filter(bad).persist()
        try {
          // epoch-keyed OVERWRITE, not a flat append: the dead-letter write
          // happens before the atomic manifest publish, so a crash (or
          // lost commit race) after it followed by a replay of the same
          // epoch would re-append identical poison rows and double-count
          // the dead-letter table. Overwriting this epoch's partition
          // makes the replay idempotent (round-2 advice); readers see one
          // partitioned dataset with `gate`/`epoch` as discovered columns.
          // The gate NAMESPACE is part of the key: epochs are only unique
          // per driver namespace, so a stream batchId and a SQL-allocated
          // epoch with the same number must not overwrite each other's
          // dead letters (round-3 review). This two-level layout is the
          // dead-letter dir's one and only on-disk format — mixing depths
          // under one root would break partition discovery.
          q.write.mode("overwrite").parquet(s"$qd/gate=$gateKey/epoch=$epoch")
          // count from footers of what we just appended is ambiguous across
          // batches; count the (tiny, now cached) poison set directly
          q.count()
        } finally q.unpersist()
      case _ => 0L
    }
    val clean = poison.map(bad => joined.filter(!bad)).getOrElse(joined)
    val batchWinners = clean
      .withColumn(Schemas.LsnCol, col("lsn"))
      .withColumn(Schemas.OpCol, when(col("op") === "D", "D").otherwise("U"))
      .select(target.fields.map(f => col(f.name)).toSeq: _*)
    // Single-exchange resolution: _bucket is a function of url, so one
    // repartition on _bucket followed by groupBy(_bucket, url) satisfies
    // the agg's ClusteredDistribution with NO second exchange — the
    // latest-wins agg and the bucket-clustered write layout share one
    // shuffle of the survivors' payload (was: agg exchange on url, then a
    // repartition exchange on _bucket — 2× the payload through the wire).
    val orderCols = Seq("warc_ts", Schemas.LsnCol)
    val payloadCols = target.fields.map(_.name)
      .filterNot(c => c == "url" || orderCols.contains(c))
    val packCols = orderCols ++ payloadCols
    val survivors =
      if (morMode)
        // already ≤1 row per url (winners semi-join on unique LSN): no
        // resolve agg — one exchange clusters the batch by bucket for
        // the delta-file layout, and that is the batch's ONLY wide op
        // over payload
        batchWinners
          .withColumn("_bucket", bucketOf(col("url"), nb))
          .repartition(math.max(1, touched.size), col("_bucket"))
          .select((target.fields.map(f => col(f.name)) :+
            col("_bucket")).toSeq: _*)
      else current.unionByName(batchWinners)
        .withColumn("_bucket", bucketOf(col("url"), nb))
        .repartition(math.max(1, touched.size), col("_bucket"))
        .groupBy(col("_bucket"), col("url"))
        .agg(max(struct(packCols.map(col): _*)).as("_m"))
        .select(col("_bucket") +: col("url") +:
          packCols.map(c => col(s"_m.$c").as(c)): _*)
        .select((target.fields.map(f => col(f.name)) :+ col("_bucket")).toSeq: _*)

    // 6a. write data files (phase 1): the exchange above already clustered
    //     rows by bucket, so each bucket lands in few files (bounded write
    //     amplification)
    val commitDir = table.newCommitDir(epoch)
    // timestamp encoding pinned (and the user's value restored) around
    // the write — see [[graft.core.EngineWriteConf]]
    graft.core.EngineWriteConf.pinned(spark) {
      survivors
        .write.partitionBy("_bucket").mode("overwrite").parquet(commitDir)
    }
    tp = dbg(epoch, "resolve+write", tp)

    // collect written files + row counts from parquet footers (no second
    // scan of the data)
    val written = listWritten(spark, commitDir, newSchemaId, delta = morMode)
    tp = dbg(epoch, "footers", tp)
    val rowsApplied = written.map(_.rows).sum

    // join the (possibly async) lineage stats before publishing
    val st = Await.result(stats, Duration.Inf)
    val eventsIn = Option(st.getAs[Long]("n")).getOrElse(0L)
    // empty batch on the FULL-REWRITE path (the prune path already
    // returned): the stats came back async after the write, so abandon
    // the commit dir (gc collects it) instead of publishing a spurious
    // whole-table rewrite with null-unboxed lsn stats (round-2 review)
    if (eventsIn == 0) {
      graft.core.Fs.deleteRecursively(Paths.get(commitDir))
      perKeyPlan.unpersist()
      unprepare()
      return MergeStats(epoch, applied = false, 0, 0, 0, 0, -1, -1, 0,
        (System.nanoTime() - t0) / 1000000)
    }
    val conflicts = eventsIn - st.getAs[Long]("nKeys")
    val deletes = st.getAs[Long]("nDeleteEvents")

    // per-PARTITION lineage (north star: source LSN range, rows applied,
    // conflict count per partition): one extra agg over the CACHED key
    // plan, run async behind the manifest publish. Only the AGG runs
    // concurrently with the commit — the jsonl append happens strictly
    // after commitDelta returns, so a failed/raced commit can never leave
    // phantom lineage rows for an epoch that was not published, and a
    // lineage failure after publish is logged, not rethrown as a bogus
    // merge failure (round-2 advice). Opt-in (graft.merge.partitionLineage)
    // because it is one more job per batch; the streaming tail enables it.
    val partLineage: Option[Future[Seq[Metrics.PartitionLineage]]] =
      if (!(partitionLineage || spark.conf
          .getOption("graft.merge.partitionLineage").exists(_.toBoolean)))
        None
      else Some(Future {
        perKeyPlan
          .groupBy(bucketOf(col("url"), nb).as("bucket"))
          .agg(sum("cnt").as("events"), count(lit(1)).as("keys"),
            min("lsnMin").as("lsn_min"), max("lsnMax").as("lsn_max"))
          .collect()
          .map { r =>
            Metrics.PartitionLineage(r.getAs[Int]("bucket"),
              r.getAs[Long]("events"), r.getAs[Long]("keys"),
              r.getAs[Long]("lsn_min"), r.getAs[Long]("lsn_max"))
          }.toSeq
      })

    // 6b. publish manifest (phase 2, atomic). Lineage keys carry forward
    //     from the BASE summary — a function of the base snapshot, not a
    //     fixed map, because a lost race may REBASE this commit onto a
    //     disjoint rival's head (commitDeltaRebasing), and the inherited
    //     gates / watermark / lsn-high-water must then come from that
    //     head. (`late-keys` stays priced against the watermark the keys
    //     were resolved under — observability lineage, not a gate.)
    val maxTsMs = Option(st.getAs[java.lang.Long]("maxTsMs"))
      .map(_.toLong).getOrElse(Long.MinValue)
    def summaryFor(base: Snapshot): Map[String, String] = {
      val prevLast = base.summary.get("last-epoch").map(_.toLong).getOrElse(-1L)
      val prevGate = base.summary.get(gateKey).map(_.toLong).getOrElse(-1L)
      val baseWatermarkMs = base.summary.get("watermark-ms").map(_.toLong)
      LakeTable.inheritLineage(base.summary) ++ Map(
        "batch-epoch" -> epoch.toString,
        "last-epoch" -> math.max(prevLast, epoch).toString,
        gateKey -> math.max(prevGate, epoch).toString,
        "watermark-ms" -> math.max(
          baseWatermarkMs.getOrElse(Long.MinValue), maxTsMs).toString,
        "late-keys" -> st.getAs[Long]("lateKeys").toString,
        "source-lsn-min" -> st.getAs[Long]("lsnMin").toString,
        "source-lsn-max" -> st.getAs[Long]("lsnMax").toString,
        // monotone max LSN ever applied, surviving every commit (incl.
        // truncate/compaction via lineageKeys): the SQL write paths band
        // their synthetic LSNs ABOVE it so a row-level DELETE/UPDATE
        // tombstone always wins its (warc_ts, lsn) tie even against
        // producers with large raw LSNs (byte offsets, ns timestamps)
        "lsn-high-water" -> math.max(
          base.summary.get("lsn-high-water").map(_.toLong)
            .getOrElse(Long.MinValue),
          st.getAs[Long]("lsnMax")).toString,
        "events-in" -> eventsIn.toString,
        "rows-applied" -> rowsApplied.toString,
        "conflict-count" -> conflicts.toString,
        "quarantine-count" -> quarantined.toString,
        "touched-buckets" -> touched.size.toString) ++
        // MoR bookkeeping: running live-delta-file count (O(1) metadata
        // for Maintenance.plan's fold trigger; compact/rebucket reset it).
        // A CoW FULL REWRITE replaces every bucket — all layers folded —
        // so it resets the counter too; without that, a mor table whose
        // oversized batch took the rewrite path would schedule one
        // pointless compaction against already-folded debt.
        (if (morMode) Map("mor-delta-files" ->
          (base.summary.get("mor-delta-files").map(_.toLong).getOrElse(0L)
            + written.size).toString)
        else if (fullRewrite) Map("mor-delta-files" -> "0")
        else Map.empty) ++
        // a truncate drops keys WITHOUT tombstones, so like a tombstone
        // purge it fences changesBetween ranges that cross it — a replica
        // must re-bootstrap, not merge a delta over a replaced table
        (if (truncate)
          Map("truncate" -> "true",
            "purge-version" -> (base.version + 1).toString)
        else Map.empty)
    }
    beforeCommitHook()
    // untouched bucket groups carry forward by manifest REFERENCE — commit
    // metadata IO is O(touched), not O(live files) (manifest-list split).
    // A lost race against a rival that provably left `touched` untouched
    // (maintenance on cold buckets, a disjoint-key writer, a metadata
    // commit) REBASES: the phase-1 files are still the correct post-image
    // of those buckets, so publish them on the head instead of re-running
    // the batch. The gate veto keeps exactly-once exact: if a rival
    // advanced this namespace to >= epoch, a duplicate of this batch
    // already published — fall through to the full retry, whose gate
    // check skips it.
    // MoR publishes via FAST-APPEND (commitDeltaAppending): the delta is
    // a pure function of the batch, so a lost race re-points it at ANY
    // compatible head — one metadata recompute, never a batch re-run,
    // even against rivals that touched the same buckets. CoW publishes
    // via the optimistic REBASE, which requires the rival provably
    // disjoint (the CoW files are a post-image of the buckets they
    // resolved against). Both veto on an advanced exactly-once gate.
    val gateOk: Snapshot => Boolean =
      head => head.summary.get(gateKey).forall(_.toLong < epoch)
    try {
      if (morMode)
        table.commitDeltaAppending(snap, newSchemaId, touched, written,
          summaryFor, eligible = gateOk)
      else
        table.commitDeltaRebasing(snap, newSchemaId, touched, written,
          summaryFor, eligible = gateOk)
    }
    catch { case e: Throwable =>
      // losing the commit race AFTER the dead-letter write: remove this
      // attempt's quarantine partition so a caller's retry at a fresh
      // epoch cannot leave the same poison rows under two epochs
      // (round-3 review) — the epoch-keyed overwrite is only idempotent
      // for SAME-epoch replays
      if (quarantined > 0) quarantineDir.foreach { qd =>
        graft.core.Fs.deleteRecursively(
          Paths.get(s"$qd/gate=$gateKey/epoch=$epoch"))
      }
      // a LOST RACE (vs an IO failure mid-publish) definitely never
      // published — delete this attempt's phase-1 data eagerly so a
      // retrying caller doesn't accrete one orphaned bucket set per loss
      if (e.isInstanceOf[CommitConflict])
        graft.core.Fs.deleteRecursively(Paths.get(commitDir))
      throw e
    }
    partLineage.foreach { f =>
      try Metrics.appendPartitionLineage(table.dir, epoch,
        Await.result(f, Duration.Inf))
      catch { case e: Throwable =>
        // the merge IS committed at this point — surface the lineage gap
        // without converting a successful publish into a reported failure
        System.err.println(s"[graft] partition-lineage for epoch $epoch " +
          s"failed after commit (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    }
    perKeyPlan.unpersist() // no-op unless persisted (prune path / prepared)
    prepared.foreach(_.winners.unpersist())
    tp = dbg(epoch, "commit", tp)

    MergeStats(epoch, applied = true, eventsIn, rowsApplied, conflicts,
      deletes, st.getAs[Long]("lsnMin"), st.getAs[Long]("lsnMax"),
      touched.size, (System.nanoTime() - t0) / 1000000, quarantined)

    } catch { case scala.util.control.NonFatal(e) =>
      perKeyPlan.unpersist() // no-op if this attempt never persisted it
      unprepare()
      throw e
    }
  }

  /** [[applyBatch]] with bounded optimistic retry on the snapshot-version
    * commit race — a maintenance rewrite (compact / rebucket / rollback)
    * publishing concurrently (round-4 verdict #7). A re-run is safe by
    * construction: a lost race never records the epoch gate, the failure
    * path unpersists the cached key plans and removes this attempt's
    * quarantine partition and phase-1 data, and the retry re-reads the
    * ADVANCED snapshot (re-resolving against the winner's content — the
    * loser's winners were computed against rows a rewrite may have
    * re-laid-out). Prepared plans feed the FIRST attempt only; they were
    * unpersisted by the failed attempt, so retries recompute them.
    */
  def applyBatchRetrying(spark: SparkSession, table: LakeTable,
      rawBatch: DataFrame, epoch: Long, batchSchemaVersion: Int,
      batchBytesHint: Option[Long] = None,
      prepared: Option[Prepared] = None,
      quarantineDir: Option[String] = None,
      partitionLineage: Boolean = false,
      gateKey: String = "last-epoch",
      truncate: Boolean = false,
      attempts: Int = 5): MergeStats = {
    var lost = 0
    while (true) {
      try return applyBatch(spark, table, rawBatch, epoch,
        batchSchemaVersion, batchBytesHint,
        if (lost == 0) prepared else None,
        quarantineDir, partitionLineage, gateKey, truncate)
      catch {
        case e: CommitConflict =>
          lost += 1
          commitRacesLost.incrementAndGet()
          if (lost >= attempts) throw new IllegalStateException(
            s"merge epoch $epoch lost $lost commit races in a row; giving up", e)
          LakeTable.commitRaceBackoff(lost)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Total merge commit races lost (and retried) in this JVM. */
  val commitRacesLost = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[Prefetch]] outcomes in this JVM: batches handed to the merge,
    * batches released unused (a mispredicted tail batch, an aborted loop,
    * a failed prefetch), and background preparations that failed.
    */
  val prefetchHits = new java.util.concurrent.atomic.AtomicLong(0)
  val prefetchMisses = new java.util.concurrent.atomic.AtomicLong(0)
  val prefetchFailures = new java.util.concurrent.atomic.AtomicLong(0)

  /** Align a producer-versioned batch to the (evolved) registry schema:
    * missing columns null-backfilled, narrow types widened — BigQuery
    * NULLABLE semantics (SURVEY.md §2.11 T7).
    */
  private def alignBatch(batch: DataFrame,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    // F10 schema assertion (ref: check_columns,
    // make_round3_prediction_files.R:217-223): the change-event key and
    // ordering columns are REQUIRED; missing ones are a caller bug, not
    // something to null-backfill
    val required = Seq("lsn", "op", "url", "warc_ts")
    val missing = required.filterNot(batch.columns.contains)
    require(missing.isEmpty, s"batch has missing required columns: " +
      missing.mkString(", "))
    val dataCols = dataSchema.fields
    val keep = Seq(col("lsn"), col("op")) ++ dataCols.map { f =>
      if (batch.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(keep: _*)
  }

  /** Public for lake maintenance (compaction reuses the write layout). */
  def listWrittenFiles(spark: SparkSession, commitDir: String,
      schemaId: Int): Seq[DataFile] =
    listWritten(spark, commitDir, schemaId)

  /** Footers are read with the session's own hadoopConfiguration: the
    * driver already holds it, so no conf is built per file.
    */
  private def listWritten(spark: SparkSession, commitDir: String,
      schemaId: Int, delta: Boolean = false): Seq[DataFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = Paths.get(commitDir)
    val BucketDir = "_bucket=(\\d+)".r
    val paths = graft.core.Fs.list(root).flatMap { sub =>
      sub.getFileName.toString match {
        case BucketDir(b) =>
          graft.core.Fs.list(sub)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => (p, b.toInt))
        case _ => Nil
      }
    }
    // footer reads are driver-side IO — done concurrently, they'd otherwise
    // add O(numBuckets × open-latency) of fixed serial time per batch
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, paths.size)))
    try {
      val futs = paths.map { case (p, b) =>
        pool.submit(new java.util.concurrent.Callable[DataFile] {
          def call(): DataFile = {
            val (rows, ts) = footerMeta(p, conf)
            DataFile(p.toString, b, rows, Files.size(p), schemaId,
              ts.map(_._1), ts.map(_._2), delta = delta)
          }
        })
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** Row count + warc_ts [min, max] (epoch micros) from the parquet
    * footer — metadata only, no data scan. The ts zone map feeds
    * [[graft.lake.GraftFileIndex]] scan pruning; it is None unless EVERY
    * row group has INT64 min/max stats (Spark's default INT96 timestamps
    * carry none — applyBatch pins the writer to TIMESTAMP_MICROS, see
    * there), so a partial-stats file is kept, never mis-pruned.
    */
  private def footerMeta(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : (Long, Option[(Long, Long)]) = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), conf)
    // open(in) alone builds its read options over a fresh default conf
    val r = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val ranges = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "warc_ts")
          .filter(_.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
          .map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
          .map(s => (s.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            s.genericGetMax.asInstanceOf[java.lang.Long].longValue))
      }
      val ts =
        if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
        else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
      (r.getRecordCount, ts)
    } finally r.close()
  }
}
