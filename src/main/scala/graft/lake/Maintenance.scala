package graft.lake

import graft.cdc.Merge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Lake-table maintenance: compaction, snapshot expiry, orphan GC. Note
  * the merge is copy-on-write at BUCKET granularity — a touched bucket's
  * files are replaced wholesale each commit, so per-bucket file count is
  * invariantly ≤ 1 (MaintenanceSpec pins this) and there is NO small-file
  * accretion to compact away; [[compact]]'s jobs are tombstone purge and
  * whole-table rewrite after churn. What does accrete: expired snapshot
  * manifests and orphans from crashes between the two commit phases
  * (SURVEY.md §7.4 #5) — expiry + GC handle those. All ops preserve the
  * commit protocol: content rewrites publish a new snapshot; GC only ever
  * deletes files no remaining manifest references.
  */
object Maintenance {

  /** Bounded optimistic retry for maintenance commits racing a merge
    * (round-4 verdict #7): the loser of the snapshot-version race gets
    * `concurrent commit lost` from [[LakeTable.commit]]; a maintenance
    * rewrite must then RE-RUN from the advanced snapshot — its written
    * output reflects the old content and publishing it as-is would drop
    * the winner's rows. Both sides retry: the merge path is
    * [[graft.cdc.Merge.applyBatchRetrying]] (epoch-gate-safe re-run),
    * the SQL statements carry their own epoch-retry loop.
    */
  /** Total maintenance commit races lost (and retried) in this JVM —
    * observability for operators and the deterministic signal the race
    * spec keys on.
    */
  val racesLost = new java.util.concurrent.atomic.AtomicLong(0)

  private def retryOnCommitRace[A](what: String, attempts: Int = 5)(
      once: => A): A = {
    var lost = 0
    while (true) {
      try return once
      catch {
        case e: IllegalStateException
            if String.valueOf(e.getMessage).contains("concurrent commit lost") =>
          lost += 1
          racesLost.incrementAndGet()
          if (lost >= attempts) throw new IllegalStateException(
            s"$what lost $lost commit races in a row; giving up", e)
          LakeTable.commitRaceBackoff(lost)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish a rewrite, deleting the attempt's phase-1 commit dir when
    * the publish fails: a raced rewrite retries with a FRESH dir, so
    * leaving the loser's whole-table copy to the next gc would accrete
    * a full table image per lost race.
    */
  private def commitRewriteOrCleanup(table: LakeTable, commitDir: String)(
      publish: => Snapshot): Snapshot =
    try publish
    catch { case e: Throwable =>
      if (String.valueOf(e.getMessage).contains("concurrent commit lost"))
        graft.core.Fs.deleteRecursively(Paths.get(commitDir))
      throw e
    }

  /** Rewrite every bucket into (at most) one file per bucket. Content
    * byte-equal by construction; publishes a metadata snapshot marked
    * `compaction=true` (no batch-epoch — compaction is not a batch).
    * Retries from the fresh snapshot when a concurrent merge wins the
    * version race.
    */
  def compact(spark: SparkSession, table: LakeTable,
      purgeTombstones: Boolean = false): Snapshot =
    retryOnCommitRace(s"compact(${table.dir})") {
      compactOnce(spark, table, purgeTombstones)
    }

  /** A snapshot whose LAST commit was a compact/rebucket: every bucket
    * is ≤1 file, sorted within by warc_ts — re-compacting it is a
    * byte-identical O(table) rewrite. Same markers [[plan]] keys on.
    */
  private def readOptimized(s: Snapshot): Boolean =
    s.summary.contains("compaction") || s.summary.contains("rebucket")

  private def compactOnce(spark: SparkSession, table: LakeTable,
      purgeTombstones: Boolean): Snapshot = {
    val snap = table.currentSnapshot
    // Idempotence: compacting a just-compacted table is a no-op — return
    // the current snapshot WITHOUT committing. Beyond the wasted rewrite,
    // an unconditional commit makes a maintenance loop a liveness hazard:
    // each vacuous compaction claims a snapshot version, and a resident
    // writer (streaming sink, merge) can lose the version race to it
    // attempt after attempt until its retry budget exhausts — a tight
    // compact loop starved the replica sink out of 5 straight retries.
    // A purge still runs (tombstones may remain to drop) — unless the
    // LAST commit was itself a purging compaction (its purge-version
    // stamp equals the current version): no commit has landed since, so
    // there is no tombstone a re-purge could find.
    val lastCommitPurged =
      snap.summary.get("purge-version").contains(snap.version.toString)
    if (readOptimized(snap) && (!purgeTombstones || lastCommitPurged))
      return snap
    // INCREMENTAL read-optimize (non-purge): buckets untouched since the
    // last compact/rebucket still carry that rewrite's sorted files —
    // re-sorting them is byte-identical work. Diff the manifests against
    // the newest retained read-optimized snapshot (metadata-only, the
    // changelog's own changed-bucket detection) and rewrite ONLY the
    // churned buckets, carrying the rest by manifest reference. This is
    // the 100-TB shape: repaying zone-map debt costs O(churned buckets),
    // not O(table) — a table where 1% of buckets churn per maintenance
    // window compacts at 1% of the full-rewrite cost. Above half the
    // buckets dirty, the full rewrite wins (one superseding manifest
    // list beats per-group delta bookkeeping, and the sort is global
    // again). A purge stays a full rewrite: tombstones to drop may sit
    // in buckets untouched since a base that never purged.
    if (!purgeTombstones) {
      val base = table.existingVersions.filter(_ < snap.version)
        .sorted(Ordering.Int.reverse).iterator.map(table.snapshot)
        .find(readOptimized)
      base match {
        case Some(b) if b.numBuckets == snap.numBuckets =>
          val (dirty, _) = table.changedBucketsBetween(b, snap)
          if (dirty.isEmpty) return snap // metadata-only commits since
          if (dirty.size * 2 <= snap.numBuckets)
            return compactBucketsDelta(spark, table, snap, dirty)
        case _ => () // no retained base (or rebucketed): full rewrite
      }
    }
    // Tombstone purge is only safe once no event older than the delete can
    // still arrive (late-data horizon / watermark) — the caller asserts
    // that by passing purgeTombstones=true. Until then tombstones must
    // survive compaction (replay convergence, SURVEY.md §7.4 #1).
    val base = table.read(snap)
    val pruned = if (purgeTombstones)
      base.filter(col(graft.core.Schemas.OpCol) =!= "D") else base
    val df = pruned
      .withColumn("_bucket", Merge.bucketOf(col("url"), snap.numBuckets))
    val commitDir = table.newCommitDir(-1L)
    // sort by warc_ts WITHIN each bucket: the merge hot path deliberately
    // never sorts (each touched bucket is rewritten latest-wins, order
    // free), so after churn a bucket file's parquet row groups all span
    // the full ts range and a time predicate prunes nothing below the
    // file level. Compaction is the offline pass where the sort is
    // bought once: post-compact, row-group ts stats become disjoint and
    // the vectorized reader skips whole groups on warc_ts ranges — the
    // read-optimize half of the compact contract (cost class unchanged:
    // one shuffle + per-partition sort over the table, same O(table) as
    // the rewrite itself).
    // pin TIMESTAMP_MICROS here too: a standalone compact session (CLI
    // `compact`, CALL graft.system.compact with no prior merge) must not
    // write INT96 — that produces stats-less files, and the warc_ts sort
    // this rewrite exists to exploit would buy nothing (zone maps dead)
    graft.core.EngineWriteConf.pinned(spark) {
      df.repartition(math.max(1, snap.numBuckets), col("_bucket"))
        .sortWithinPartitions(col("_bucket"), col("warc_ts"))
        .write.partitionBy("_bucket").mode("overwrite").parquet(commitDir)
    }
    val written = Merge.listWrittenFiles(spark, commitDir, snap.schemaId)
    // a tombstone purge invalidates changelogs that CROSS it: a delete
    // whose tombstone was purged emits nothing in changesBetween, so a
    // replica reading across the purge would silently keep the stale row.
    // Record the purge version as a lineage-inherited watermark so
    // changesBetween can refuse such ranges even after the compaction
    // snapshot itself expires (round-3 verdict #8).
    val purgeMark = if (purgeTombstones)
      Map("purge-version" -> (snap.version + 1).toString) else Map.empty
    // a compaction supersedes every manifest — commitRewrite publishes the
    // full new list without loading the old manifests first (commitDelta
    // with an all-buckets touched set would read them only to discard)
    commitRewriteOrCleanup(table, commitDir) {
      table.commitRewrite(snap, snap.schemaId, snap.numBuckets, written,
        LakeTable.inheritLineage(snap.summary) ++ Map("compaction" -> "true",
          "compacted-from" -> snap.fileCount.toString,
          // every MoR delta layer was folded into the rewritten bases
          "mor-delta-files" -> "0") ++ purgeMark)
    }
  }

  /** Rewrite ONLY `dirty` buckets (warc_ts-sorted, like the full path)
    * and commit as a DELTA: untouched bucket groups carry by manifest
    * reference, exactly like a merge commit. Post-commit the whole table
    * is read-optimized — untouched buckets kept the base rewrite's
    * sorted files — so the snapshot carries the same `compaction` marker
    * [[plan]]'s churn detection keys on (`compaction-scope` records the
    * fraction for operators).
    */
  private def compactBucketsDelta(spark: SparkSession, table: LakeTable,
      snap: Snapshot, dirty: Set[Int]): Snapshot = {
    val df = table.readBuckets(snap, dirty)
      .withColumn("_bucket", Merge.bucketOf(col("url"), snap.numBuckets))
    val commitDir = table.newCommitDir(-1L)
    graft.core.EngineWriteConf.pinned(spark) {
      df.repartition(math.max(1, dirty.size), col("_bucket"))
        .sortWithinPartitions(col("_bucket"), col("warc_ts"))
        .write.partitionBy("_bucket").mode("overwrite").parquet(commitDir)
    }
    val written = Merge.listWrittenFiles(spark, commitDir, snap.schemaId)
    commitRewriteOrCleanup(table, commitDir) {
      table.commitDelta(snap, snap.version + 1, snap.schemaId, dirty, written,
        LakeTable.inheritLineage(snap.summary) ++ Map(
          "compaction" -> "true",
          "compaction-scope" -> s"${dirty.size}/${snap.numBuckets}",
          "compacted-from" -> snap.filesForBuckets(dirty).size.toString,
          // dirty ⊇ every bucket that gained a MoR delta since the base
          // (delta files are new files), so folding dirty folds them all
          "mor-delta-files" -> "0"))
    }
  }

  /** Bucket-count evolution: rewrite the table at `newBuckets` and commit
    * a snapshot carrying the new count (the bucket map is
    * `pmod(xxhash64(url), numBuckets)` — [[graft.cdc.Merge.bucketOf]] —
    * so every row moves to its new bucket; there is no incremental
    * rebucket for a hash layout). Everything downstream is per-snapshot
    * already: the next MERGE prunes/writes at the new count, the scan
    * planner's point-lookup pruning uses the scanned snapshot's count,
    * and time travel keeps reading old snapshots at theirs.
    *
    * Why this exists at 100 TB: bucket count is the table's write/prune
    * granularity — each touched bucket is rewritten wholesale per commit
    * (CoW), so avg bucket bytes must stay near one target file size
    * (~128-512 MB). A table that grows 100× past its created-at count
    * degrades every merge into multi-GB bucket rewrites; double the
    * count whenever `totalBytes / numBuckets` crosses the target. Cost:
    * ONE full shuffle + rewrite — the same O(table) class as a purge
    * compaction, run as rare offline maintenance, metadata-atomic like
    * every commit (readers see old or new layout, never a mix).
    *
    * Changelog interaction: a rebucket changes every file but no row, so
    * `changesBetween` across it degrades to a full-table diff (all
    * bucket groups differ) that yields ZERO change rows — correct,
    * priced as read amplification, exactly like a non-purge compaction.
    * Tombstones and lineage keys (epoch gates, watermark, purge fence)
    * carry through untouched.
    */
  def rebucket(spark: SparkSession, table: LakeTable,
      newBuckets: Int): Snapshot =
    retryOnCommitRace(s"rebucket(${table.dir})") {
      rebucketOnce(spark, table, newBuckets)
    }

  private def rebucketOnce(spark: SparkSession, table: LakeTable,
      newBuckets: Int): Snapshot = {
    val snap = table.currentSnapshot
    require(newBuckets >= 1, s"newBuckets must be >= 1 (got $newBuckets)")
    if (newBuckets == snap.numBuckets) return snap
    val df = table.read(snap)
      .withColumn("_bucket", Merge.bucketOf(col("url"), newBuckets))
    val commitDir = table.newCommitDir(-1L)
    graft.core.EngineWriteConf.pinned(spark) {
      df.repartition(math.max(1, newBuckets), col("_bucket"))
        // same read-optimize sort as [[compact]] — a rebucket is the other
        // whole-table offline rewrite, so it buys the row-group ts layout too
        .sortWithinPartitions(col("_bucket"), col("warc_ts"))
        .write.partitionBy("_bucket").mode("overwrite").parquet(commitDir)
    }
    val written = Merge.listWrittenFiles(spark, commitDir, snap.schemaId)
    commitRewriteOrCleanup(table, commitDir) {
      table.commitRewrite(snap, snap.schemaId, newBuckets, written,
        LakeTable.inheritLineage(snap.summary) ++ Map(
          "rebucket" -> "true",
          "rebucketed-from" -> snap.numBuckets.toString,
          "mor-delta-files" -> "0"))
    }
  }

  /** Roll the table back to a retained snapshot's CONTENT — a new commit
    * whose file/manifest refs are the old snapshot's (metadata-only, like
    * Iceberg's rollback_to_snapshot: history moves FORWARD, nothing is
    * deleted, time travel still reads the rolled-back-over versions until
    * expiry). Epoch gates, watermark, and the LSN high-water carry
    * forward from the CURRENT summary — a rollback is state surgery, not
    * a replay, so batches already applied stay gated (re-offering epoch k
    * after a rollback is still a no-op; re-ingesting the range needs a
    * fresh gate namespace, i.e. a new checkpoint).
    *
    * Changelog interaction: a rollback REVERTS rows without tombstones
    * (a key updated after `toVersion` silently returns to its old state —
    * an argmax replica applying that "delta" would reject the older
    * version and silently diverge), so like a tombstone purge it FENCES
    * `changesBetween` ranges that cross it via the same purge-version
    * watermark: followers get the explicit re-bootstrap error (or
    * rebootstrap automatically when opted in).
    */
  def rollback(spark: SparkSession, table: LakeTable, toVersion: Int): Snapshot =
    // metadata-only, so the retry just re-reads the advanced summary and
    // re-publishes — the rolled-back-to CONTENT is the same either way
    // (rollback-over-concurrent-merge means the merge's rows revert, the
    // declared semantics of rolling back)
    retryOnCommitRace(s"rollback(${table.dir})") {
      rollbackOnce(spark, table, toVersion)
    }

  private def rollbackOnce(spark: SparkSession, table: LakeTable,
      toVersion: Int): Snapshot = {
    val cur = table.currentSnapshot
    require(toVersion != cur.version, s"already at v$toVersion")
    require(table.existingVersions.contains(toVersion),
      s"rollback target v$toVersion has expired or was never committed " +
        s"(available: v${table.existingVersions.min}..v${table.existingVersions.max})")
    val target = table.snapshot(toVersion)
    table.commit(target.copy(
      version = cur.version + 1,
      summary = LakeTable.inheritLineage(cur.summary) ++ Map(
        "rollback" -> "true",
        "rolled-back-to" -> toVersion.toString,
        "purge-version" -> (cur.version + 1).toString)))
  }

  /** Drop manifests older than the last `keepLast` snapshots. The epoch
    * gate stays correct: epochs are monotonic, so the retained (newest)
    * snapshots carry the maximum committed epoch.
    *
    * Pairing contract with [[gc]] (round-3 verdict nit): expiry deletes
    * only the snapshot JSONs; the data files and per-group manifest
    * files they referenced become unreferenced-by-any-remaining-snapshot
    * and are collected by the NEXT gc. A crash between the two leaves
    * orphans that `existingVersions` no longer sees — that is the
    * designed state, not a gap: orphans are exactly what gc's
    * reachability sweep removes, and nothing ever resolves a deleted
    * version, so the window costs disk, never correctness. Run gc after
    * expiry (the CLI pairs them) to reclaim the space.
    */
  /** What one engine-decided maintenance pass would do, from manifest
    * stats alone (zero data-file IO): `("rebucket", reason, Some(n))`,
    * `("compact", reason, None)`, or `("none", reason, None)`.
    *
    * Triggers, in priority order:
    *  1. bucket-size DRIFT — avg bucket bytes an order of magnitude off
    *     the ~target CoW file size (the `show` advisory thresholds): the
    *     bucket count is the table's write/prune granularity, and a
    *     table that grew 100× past its created-at count pays multi-GB
    *     rewrites per touched bucket on every merge. Rebucket to the
    *     power-of-two count that restores ~target-sized buckets.
    *  2. read-optimize DEBT — the merge hot path deliberately never
    *     sorts (latest-wins bucket rewrites are order-free), so warc_ts
    *     zone maps decay as churn rewrites buckets unsorted. After
    *     `churnThreshold` commits with no compaction/rebucket (both
    *     sort within buckets), buy the layout back.
    * There is no small-file trigger: the merge is CoW at bucket
    * granularity, so per-bucket file count is invariantly ≤ 1 (scaladoc
    * above; MaintenanceSpec pins it).
    */
  def plan(table: LakeTable, targetBucketBytes: Long = 256L << 20,
      churnThreshold: Int = 64,
      morFoldThreshold: Int = 32): (String, String, Option[Int]) = {
    // a zero/negative target would drive the drift branch straight to
    // the 2^20-bucket clamp — a pathological million-file rewrite from a
    // nonsensical knob; reject like rebucket rejects buckets < 1
    require(targetBucketBytes > 0,
      s"targetBucketBytes must be > 0 (got $targetBucketBytes)")
    require(churnThreshold >= 1,
      s"churnThreshold must be >= 1 (got $churnThreshold)")
    require(morFoldThreshold >= 1,
      s"morFoldThreshold must be >= 1 (got $morFoldThreshold)")
    val s = table.currentSnapshot
    if (s.fileCount == 0)
      return ("none", "empty table", None)
    val avg = s.totalBytes / math.max(1, s.numBuckets)
    if (avg > 4 * targetBucketBytes) {
      var n = 1L
      while (n * targetBucketBytes < avg && n < (1L << 20)) n <<= 1
      val buckets = math.min(s.numBuckets.toLong * n, 1L << 20).toInt
      return ("rebucket",
        s"avg bucket ${avg >> 20} MB > 4x target ${targetBucketBytes >> 20} MB",
        Some(buckets))
    }
    if (s.numBuckets > 64 && avg < targetBucketBytes / 64)
      return ("rebucket",
        s"avg bucket ${math.max(1, avg >> 10)} KB << target — over-bucketed",
        Some(math.max(64, s.numBuckets / 64)))
    // last read-optimized version: compact and rebucket both sort within
    // buckets and stamp their summaries; walk only RETAINED versions
    val lastOpt = table.existingVersions
      .filter(v => v <= s.version)
      .sorted(Ordering.Int.reverse)
      .find { v =>
        val sum = table.snapshot(v).summary
        sum.contains("compaction") || sum.contains("rebucket")
      }
    // merge-on-read fold debt: every live delta layer costs its bucket a
    // read-side resolve (and loses it the warc_ts zone maps), so deltas
    // trigger compaction on their own clock, independent of churn. The
    // counter is O(1) summary metadata maintained by the MoR merge and
    // reset by compact/rebucket — plan() stays metadata-only. Checked
    // before churn: fold debt prices a per-READ cost, churn only a
    // per-range-scan one.
    val morDeltas = s.summary.get("mor-delta-files").map(_.toLong).getOrElse(0L)
    if (morDeltas >= morFoldThreshold)
      return ("compact",
        s"$morDeltas merge-on-read delta layers outstanding (threshold " +
          s"$morFoldThreshold) — fold into sorted bases", None)
    val churn = s.version - lastOpt.getOrElse(-1)
    if (churn >= churnThreshold)
      return ("compact",
        s"$churn commits since the last within-bucket warc_ts sort " +
          s"(threshold $churnThreshold) — zone maps decayed", None)
    ("none", s"within thresholds (avg bucket ${avg >> 10} KB, " +
      s"churn $churn/$churnThreshold, mor-deltas $morDeltas)", None)
  }

  /** Execute [[plan]]: the engine-decided maintenance pass (`CALL
    * graft.system.auto_maintain`, CLI `maintain`). Returns
    * (action, reason, resulting version — unchanged when "none").
    */
  def autoMaintain(spark: SparkSession, table: LakeTable,
      targetBucketBytes: Long = 256L << 20, churnThreshold: Int = 64,
      purgeTombstones: Boolean = false,
      morFoldThreshold: Int = 32): (String, String, Int) =
    plan(table, targetBucketBytes, churnThreshold, morFoldThreshold) match {
      case ("rebucket", reason, Some(n)) =>
        (s"rebucket($n)", reason, rebucket(spark, table, n).version)
      case ("compact", reason, _) =>
        ("compact", reason, compact(spark, table, purgeTombstones).version)
      case (action, reason, _) => (action, reason, table.currentVersion)
    }

  /** Expire snapshot metadata beyond the retention window. `keepLast`
    * always retains the most recent N versions; `olderThanMs`
    * (epoch millis — the Iceberg `expire_snapshots(older_than)` shape)
    * further RESTRICTS expiry to snapshots whose commit-ts is older, so
    * a time-travel/changelog SLA ("7 days") survives even when commits
    * land faster than the count-based window. A snapshot missing a
    * commit-ts (pre-upgrade metadata) is treated as old.
    */
  def expireSnapshots(table: LakeTable, keepLast: Int,
      olderThanMs: Option[Long] = None): Int = {
    // keepLast <= 0 would expire the CURRENT snapshot too — the table
    // would become unreadable and the next gc would delete all data
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast)")
    val current = table.currentVersion
    val cutoff = current - keepLast + 1
    def oldEnough(v: Int): Boolean = olderThanMs.forall { t =>
      table.snapshot(v).summary.get("commit-ts")
        .flatMap(_.toLongOption).forall(_ < t)
    }
    val metaDir = Paths.get(table.dir, "meta")
    val expired = graft.core.Fs.list(metaDir).filter { p =>
      p.getFileName.toString match {
        case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toIntOption
            .exists(v => v < cutoff && oldEnough(v))
        case _ => false
      }
    }
    expired.foreach(Files.delete(_))
    expired.size
  }

  /** Delete every data file not referenced by any remaining snapshot, and
    * every manifest file not referenced by any remaining snapshot, and
    * prune empty commit directories. Safe w.r.t. crashes: phase-1-only
    * commit dirs (data written, manifest never published) and orphan
    * manifests (written but never referenced by a published snapshot) are
    * exactly what this removes.
    *
    * `minAgeMs` (Iceberg-style orphan age threshold, round-3 review):
    * an IN-FLIGHT commit's phase-1 files are unreferenced until its
    * manifest publishes, so a concurrent gc with no age guard would
    * delete them and let the writer publish a snapshot pointing at
    * nothing — permanent corruption. Only files older than the threshold
    * are collected; pass 0 ONLY when no writer can be active (tests,
    * offline maintenance). Paths are normalize()d on both sides — a
    * table dir spelled with `.`/`..` at commit or gc time must not make
    * live files look unreferenced.
    */
  def gc(table: LakeTable, minAgeMs: Long = 3600000L): Int = {
    def canon(p: Path): String = p.toAbsolutePath.normalize().toString
    val now = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis >= minAgeMs
      catch { case _: java.io.IOException => false }
    val snaps = table.existingVersions.map(table.snapshot)
    val referenced = snaps.flatMap(_.files.map(f => canon(Paths.get(f.path)))).toSet
    val liveManifests = snaps.flatMap(_.manifests.map(m => canon(Paths.get(m.path)))).toSet
    val dataDir = Paths.get(table.dir, "data")
    var removed = 0
    if (Files.exists(dataDir)) {
      graft.core.Fs.walk(dataDir).reverse.foreach { p =>
        if (Files.isRegularFile(p) && !referenced.contains(canon(p))
            && oldEnough(p)) {
          Files.delete(p); removed += 1
        } else if (Files.isDirectory(p) && p != dataDir
            && graft.core.Fs.isEmptyDir(p)) {
          Files.delete(p)
        }
      }
    }
    val manifestDir = Paths.get(table.dir, "meta", "manifests")
    if (Files.exists(manifestDir)) {
      graft.core.Fs.list(manifestDir).foreach { p =>
        if (!liveManifests.contains(canon(p)) && oldEnough(p)) {
          Files.delete(p); removed += 1
        }
      }
    }
    removed
  }
}
