package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** One immutable data file of a snapshot, pinned to one key bucket and the
  * registry schema it was written under. `tsMin`/`tsMax` are the file's
  * `warc_ts` range in epoch micros (zone map for [[GraftFileIndex]] scan
  * pruning), harvested from parquet footer stats during the commit's
  * footer pass — absent for files written before stats capture (or as
  * stats-less INT96), which are then simply never ts-pruned.
  *
  * `delta = true` marks a merge-on-read DELTA layer (write-mode `mor`,
  * [[graft.cdc.Merge.applyBatch]]): the file holds only one batch's
  * winning rows for its bucket, overlapping the bucket's base file (and
  * earlier deltas) by url. Readers resolve layered buckets latest-wins
  * ([[LakeTable.resolveLatest]]); compaction folds the layers back into
  * a single base file. Absent in the manifest JSON ⇒ base (backward
  * compatible with every pre-MoR manifest).
  */
final case class DataFile(path: String, bucket: Int, rows: Long, bytes: Long,
    schemaId: Int, tsMin: Option[Long] = None, tsMax: Option[Long] = None,
    delta: Boolean = false)

/** One immutable manifest file: the data-file list for one contiguous
  * bucket group ([group × bucketsPerManifest, …+bucketsPerManifest)), with
  * pre-aggregated stats so planning (size estimates, pruning) never has to
  * open it. Shared across snapshots by path — a commit that does not touch
  * the group carries the ref forward unchanged.
  */
final case class ManifestRef(
    path: String, group: Int, numFiles: Int, rows: Long, bytes: Long)

/** One bucket's change-scan task (see [[LakeTable.changeFileTasks]]):
  * resolve `after` (the `to`-side files) against `before` (the
  * `from`-side files of the SAME bucket) locally — the lake's
  * bucket-hash layout makes the changelog's (url, _lsn) diff
  * co-partitioned by construction.
  */
final case class BucketChangeTask(bucket: Int, after: Seq[DataFile],
    before: Seq[DataFile])

/** The loser of a snapshot-version race: another committer published the
  * version this commit was built for (link(2) failed with EEXIST). Nothing
  * was published, so the commit can be re-derived from the new head and
  * retried.
  */
final class CommitConflict(message: String, cause: Throwable)
    extends IllegalStateException(message, cause)

/** One committed table version. `summary` carries the exactly-once /
  * lineage properties (batch epoch, source LSN range, rows applied,
  * conflict count — the reference's WRITE_APPEND + staged `gsutil`+`bq
  * load` two-phase publish, /root/reference/upload_data/Submissions/round3/
  * upload_round3_files_to_cloud.sh:1-5, made atomic).
  *
  * Data files live either `inline` in the snapshot JSON (tiny tables,
  * metadata-only commits on legacy snapshots) or behind `manifests`
  * (bucket-group manifest files, the at-scale layout). `files` resolves
  * both; the incremental paths use [[filesForBuckets]] / [[totalBytes]] /
  * [[fileCount]] so an untouched group's manifest is never even read.
  */
final case class Snapshot(
    version: Int,
    schemaId: Int,
    numBuckets: Int,
    inline: Seq[DataFile],
    summary: Map[String, String],
    manifests: Seq[ManifestRef] = Nil) {
  def epoch: Option[Long] = summary.get("batch-epoch").map(_.toLong)

  /** All live data files — loads every manifest (full-scan paths only). */
  lazy val files: Seq[DataFile] =
    inline ++ LakeTable.loadManifests(manifests)

  /** Files of the given buckets, reading only intersecting manifests —
    * O(touched-groups) driver IO, the incremental-MERGE fast path.
    */
  def filesForBuckets(buckets: Set[Int]): Seq[DataFile] = {
    val bpm = LakeTable.bucketsPerManifest
    val groups = buckets.map(_ / bpm)
    (inline ++ LakeTable.loadManifests(
      manifests.filter(m => groups.contains(m.group))))
      .filter(f => buckets.contains(f.bucket))
  }

  /** Total live bytes from manifest-ref stats — no manifest reads. */
  def totalBytes: Long = inline.map(_.bytes).sum + manifests.map(_.bytes).sum

  /** Live file count from manifest-ref stats — no manifest reads. */
  def fileCount: Int = inline.size + manifests.map(_.numFiles).sum
}

/** Iceberg-style snapshot-chain table over Parquet, built from scratch
  * (SURVEY.md §7.1 step 3 — no lake-format runtime ships in this sandbox).
  *
  * Layout:
  * {{{
  *   dir/meta/v<N>.json        — manifest per snapshot (atomic rename publish)
  *   dir/data/c<epoch>-<uuid>/_bucket=<b>/part-*.parquet — immutable data
  * }}}
  *
  * Commit protocol (two-phase, crash-safe on a rename-atomic FS): data
  * files are fully written first under a fresh commit directory, then the
  * manifest is published by an atomic rename of meta/.tmp → meta/v<N+1>
  * .json. A crash in between leaves orphan data files, never a corrupt
  * table. Readers resolve the current version by scanning meta/ for the
  * highest committed N.
  *
  * Scale note (Iceberg-style manifest-list split): the snapshot JSON holds
  * only a manifest LIST — one ref per 64-bucket group, with aggregated
  * rows/bytes — and each manifest file holds that group's data files
  * (JSON files under dir/meta/manifests/, immutable, shared across
  * snapshots). A
  * commit rewrites only the manifests whose bucket groups the batch
  * touched and carries the rest forward by reference, so commit metadata
  * IO is O(touched-files + numBuckets/64), not O(live-files): at 10^5
  * buckets a 100-bucket batch writes ~100 file entries + a 1.5k-ref list
  * instead of a 10 MB full inventory. Incremental reads
  * ([[Snapshot.filesForBuckets]]) open only intersecting manifests.
  * Snapshot history is bounded by [[Maintenance.expireSnapshots]];
  * unreferenced manifests are collected by [[Maintenance.gc]].
  *
  * Schema evolution = a new snapshot pointing at a higher registry
  * schemaId; old files keep their original schemaId and are aligned
  * (null-backfill added columns, widen types) at read time.
  */
final class LakeTable private (val dir: String, spark: SparkSession) {

  import LakeTable._

  private def metaDir: Path = Paths.get(dir, "meta")
  private def dataDir: Path = Paths.get(dir, "data")

  /** registry: schemaId → StructType plus the hidden lineage columns
    * (_lsn: source LSN of the writing change; _op: live/tombstone).
    */
  def schemaFor(schemaId: Int): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val base = registrySchemaFor(schemaId)
    StructType(base.fields ++ Seq(
      StructField(graft.core.Schemas.LsnCol, LongType),
      StructField(graft.core.Schemas.OpCol, StringType)))
  }

  // --- persisted registry extensions (round-2 verdict #5) ---------------
  //
  // The builtin SchemaRegistry covers producer-declared versions 1..3; a
  // table can mint HIGHER versions operationally via ALTER TABLE (the
  // reference's V3→V4 dataset switch was an operational act, not a code
  // release — /root/reference/create_tables/create_submission_tables.sh:1-28).
  // Minted schemas persist as meta/schemas/s<id>.json so every later
  // reader/writer of the table resolves them without a recompile.

  private def schemasDir: Path = metaDir.resolve("schemas")
  private val LocalSchemaName = "s(\\d+)\\.json".r

  /** Data schema (no lineage columns) for a schemaId: table-local minted
    * versions first, then the builtin registry.
    */
  def registrySchemaFor(schemaId: Int): StructType =
    localSchema(schemaId).getOrElse(graft.core.SchemaRegistry.schemaFor(schemaId))

  private def localSchema(id: Int): Option[StructType] = {
    val p = schemasDir.resolve(s"s$id.json")
    if (!Files.exists(p)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(p))
      .asInstanceOf[StructType])
  }

  /** Every schema version this table can resolve (builtin + minted). */
  def knownSchemaVersions: Seq[Int] = {
    val local =
      if (!Files.isDirectory(schemasDir)) Nil
      else graft.core.Fs.list(schemasDir).map(_.getFileName.toString)
        .collect { case LocalSchemaName(n) => n.toInt }
    (graft.core.SchemaRegistry.versions.keys ++ local).toSeq.distinct.sorted
  }

  /** Mint the next registry version from an evolved schema (add-column /
    * widen-type only) and commit a metadata-only snapshot pointing at it.
    * Existing data files keep their schemaId and align at read (null
    * backfill / widen) — no data rewrite, exactly like a producer-driven
    * version bump through MERGE.
    */
  def evolveSchema(newSchema: StructType): Snapshot = {
    val s = currentSnapshot
    val cur = registrySchemaFor(s.schemaId)
    require(graft.core.SchemaRegistry.canEvolve(cur, newSchema),
      s"illegal schema evolution (add-column / widen-type only): " +
        s"${cur.simpleString} -> ${newSchema.simpleString}")
    Files.createDirectories(schemasDir)
    // schema file lands before the snapshot referencing it; a crash in
    // between leaves an orphan s<id>.json (harmless — the id was never
    // committed and the next mint skips past it). CREATE_NEW makes the id
    // claim atomic: a concurrent mint that raced to the same id would
    // otherwise overwrite the file AFTER the rival committed a snapshot
    // referencing it — the committed schema silently swapping out from
    // under the table (round-3 review). On EEXIST we re-pick.
    var newId = knownSchemaVersions.max + 1
    var claimed = false
    while (!claimed) {
      try {
        Files.writeString(schemasDir.resolve(s"s$newId.json"), newSchema.json,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => newId += 1
      }
    }
    commit(s.copy(version = s.version + 1, schemaId = newId,
      summary = LakeTable.inheritLineage(s.summary) ++
        Map("schema-evolution" -> s"${s.schemaId}->$newId")))
  }

  /** Committed manifest versions present on disk (expiry leaves gaps). */
  def existingVersions: Seq[Int] =
    graft.core.Fs.list(metaDir)
      .map(_.getFileName.toString)
      .collect { case ManifestName(n) => n.toInt }
      .sorted

  def currentVersion: Int = existingVersions.foldLeft(-1)(math.max)

  def currentSnapshot: Snapshot = snapshot(currentVersion)

  def snapshot(version: Int): Snapshot = {
    require(version >= 0, s"no committed snapshot (version=$version)")
    val node = mapper.readTree(metaDir.resolve(s"v$version.json").toFile)
    Snapshot(
      version = node.get("version").asInt(),
      schemaId = node.get("schemaId").asInt(),
      numBuckets = node.get("numBuckets").asInt(),
      inline = node.get("files").elements().asScala.map { f =>
        DataFile(f.get("path").asText(), f.get("bucket").asInt(),
          f.get("rows").asLong(),
          if (f.has("bytes")) f.get("bytes").asLong() else 0L,
          f.get("schemaId").asInt(),
          if (f.has("tsMin")) Some(f.get("tsMin").asLong()) else None,
          if (f.has("tsMax")) Some(f.get("tsMax").asLong()) else None,
          delta = f.has("delta") && f.get("delta").asBoolean())
      }.toSeq,
      summary = node.get("summary").fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap,
      manifests =
        if (!node.has("manifests")) Nil
        else node.get("manifests").elements().asScala.map { m =>
          ManifestRef(m.get("path").asText(), m.get("group").asInt(),
            m.get("numFiles").asInt(), m.get("rows").asLong(),
            m.get("bytes").asLong())
        }.toSeq)
  }

  /** Time-travel read of any snapshot, aligned to that snapshot's schema.
    * Files are grouped by the schemaId they were written under and each
    * group is read with its own schema, then cast/null-backfilled to the
    * snapshot schema — this is what makes INT→LONG widening and added
    * columns safe on old files.
    */
  def read(s: Snapshot): DataFrame = readFiles(s, s.files)

  def read(): DataFrame = read(currentSnapshot)

  /** Table state without lineage columns and tombstones (the user-facing
    * web_pages view) — any snapshot (time travel) or current.
    */
  def readUser(s: Snapshot): DataFrame =
    read(s).filter(col(graft.core.Schemas.OpCol) =!= "D")
      .drop(graft.core.Schemas.LsnCol, graft.core.Schemas.OpCol)

  def readUser(): DataFrame = readUser(currentSnapshot)

  /** Read only the files of the given buckets (MERGE target pruning).
    * Opens only the manifests whose bucket groups intersect — the metadata
    * cost tracks the batch's touched set, not the table's file count.
    */
  def readBuckets(s: Snapshot, buckets: Set[Int]): DataFrame =
    readFiles(s, s.filesForBuckets(buckets))

  /** Scan `fs` aligned to `s`'s schema, resolving merge-on-read LAYERS:
    * a bucket carrying delta files holds overlapping (url) rows across
    * its base + delta layers, so those buckets route through one
    * latest-wins hash-agg ([[LakeTable.resolveLatest]] — the same
    * (warc_ts, _lsn) argmax the CoW merge applies at write time) while
    * delta-free buckets keep the plain scan. Every read path
    * (changesBetween, CDF, compaction, SQL, time travel) builds on this,
    * so MoR resolution is defined in exactly one place.
    *
    * Scale shape: the union splits at the FILE level, so the resolve
    * exchange moves only the layered buckets' rows — O(un-compacted
    * churn), not O(table); a fully-compacted table pays zero. Filter
    * pushdown: url predicates (bucket pruning) push through the resolve
    * agg (url is its grouping key); warc_ts zone-map predicates stop
    * above it — pruning a layer by time could resurrect a superseded
    * row, so Catalyst's refusal to push non-grouping predicates is
    * exactly the correct behavior, and delta-free buckets still get the
    * full pushdown.
    */
  private def readFiles(s: Snapshot, fs: Seq[DataFile]): DataFrame = {
    val target = schemaFor(s.schemaId)
    def scan(group: Seq[DataFile]): DataFrame =
      group.groupBy(_.schemaId).map { case (sid, g) =>
        align(GraftScan.scan(spark, g, schemaFor(sid), s.numBuckets), target)
      }.reduce(_ unionByName _)
    if (fs.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), target)
    // resolution is only needed where urls can OVERLAP: ≥2 files with a
    // delta among them. A single-file bucket — a base, or one delta
    // layer over nothing (the first MoR epoch into fresh buckets) — has
    // unique urls by construction (every writer dedups per key) and
    // keeps the plain scan + full pushdown.
    val byBucket = fs.groupBy(_.bucket)
    val layeredBuckets = byBucket.collect {
      case (b, group) if group.size >= 2 && group.exists(_.delta) => b
    }.toSet
    if (layeredBuckets.isEmpty) return scan(fs)
    val (layered, plain) = fs.partition(f => layeredBuckets.contains(f.bucket))
    // Bucket-LOCAL resolve (round-6): the layered rows are already
    // co-located by the lake's url-hash bucketing, so the latest-wins
    // argmax runs in-task through the same reader the streaming
    // changelog uses — ZERO exchanges, column pruning at the scan
    // (narrow reads never decode html), vs the groupBy(url) hash-agg's
    // one exchange over every layered row. `graft.mor.resolve = agg`
    // keeps the old plan as an A/B escape hatch (and the
    // PruneArgmaxStruct-optimized agg path it exercises).
    val resolved =
      if (spark.conf.getOption("graft.mor.resolve").contains("agg"))
        LakeTable.resolveLatest(scan(layered), target)
      else {
        val tasks = layered.groupBy(_.bucket).toSeq.sortBy(_._1).map {
          case (b, group) => BucketChangeTask(b, group, Nil)
        }
        graft.cdc.BucketBatchScan.dataFrame(spark, tasks, target,
          cdf = false, commitVersion = s.version, numBuckets = s.numBuckets)
      }
    if (plain.isEmpty) resolved else scan(plain).unionByName(resolved)
  }

  /** Incremental read — the CDC *output* side (Iceberg-style changelog):
    * the per-key change set a downstream replica applies to move from
    * snapshot `from` to snapshot `to`. Rows are `to`'s state of every key
    * whose (url, _lsn) changed in the range: `_op = 'U'` rows are
    * upserts, `_op = 'D'` rows are delete events (tombstones written in
    * the range). Unchanged keys never appear.
    *
    * Scale shape: changed-bucket detection is metadata-only — manifest
    * refs carried by REFERENCE between the snapshots are identical by
    * path, so only differing bucket groups load their manifests, and only
    * buckets whose file sets differ are read on either side. The diff
    * itself is one left-anti join on (url, _lsn): LSNs uniquely version a
    * key, so a compaction that rewrote files without changing rows yields
    * zero change rows (file-level false positives cost read, never
    * correctness).
    *
    * Contract enforcement (round-3 verdict #8 / advice):
    *  - `from = -1` is the INITIAL changelog (Iceberg-style): the full
    *    `to` snapshot emitted as its own change set — how a fresh replica
    *    bootstraps before tailing incremental deltas.
    *  - `from`/`to` must be committed, unexpired snapshots; an expired or
    *    never-committed version raises a clear error (re-bootstrap with
    *    from = -1) instead of a raw file-read failure.
    *  - A purge-tombstones compaction INSIDE (from, to] invalidates the
    *    range (a purged delete emits nothing — the replica would silently
    *    keep the stale row), so it raises instead of returning wrong
    *    deltas. The purge version is a lineage-inherited watermark, so
    *    the check survives expiry of the compaction snapshot itself.
    */
  def changesBetween(from: Int, to: Int): DataFrame = {
    validateChangeRange(from, to)
    val b = snapshot(to)
    // a full-snapshot bootstrap (from = -1) is valid regardless of purges
    // — it emits the complete to-state, not a delta across the purge
    if (from == -1) return read(b)
    fencePurge(from, to, b)
    // round-6: the diff RUNS ON the task form ([[changeFileTasks]]) —
    // one bucket-local (url, _lsn) probe per changed bucket, zero
    // exchanges — instead of the former two-exchange anti-join plan.
    // The batch and streaming changelogs now execute identically.
    val tasks = if (from == to) Nil else diffTasks(snapshot(from), b)
    if (tasks.isEmpty) return readFiles(b, Nil) // schema-correct empty
    graft.cdc.BucketBatchScan.dataFrame(spark, tasks, schemaFor(b.schemaId),
      cdf = false, commitVersion = to, numBuckets = b.numBuckets)
  }

  /** [[changesBetween]] as a FILE-LEVEL plan — the DSv2 streaming
    * source's shape (the Iceberg pattern: plan change-scan tasks, not a
    * DataFrame). One task per changed bucket carries the `to`-side files
    * and the `from`-side files of THAT bucket only; because the lake is
    * bucket-hash partitioned on url, the (url, _lsn) anti-join the
    * changelog needs is bucket-LOCAL — each task resolves its own bucket
    * with no shuffle at all (the batch [[changesBetween]] plan pays two
    * exchanges for the same join; the task form is strictly better at
    * scale). A bootstrap (`from = -1`) plans one task per FILE (finer
    * splits, no before side). Same validation + purge fencing as
    * [[changesBetween]].
    */
  def changeFileTasks(from: Int, to: Int): Seq[BucketChangeTask] = {
    validateChangeRange(from, to)
    val b = snapshot(to)
    if (from == -1) {
      // bootstrap plans one task per FILE — except merge-on-read layered
      // buckets (≥2 files with a delta among them), whose files overlap
      // by url and must resolve TOGETHER in one bucket task (emitting
      // each layer separately would replay superseded rows into the
      // replica); a single-file bucket has unique urls by construction
      val byBucket = b.files.groupBy(_.bucket)
      val layered = byBucket.collect {
        case (k, fs) if fs.size >= 2 && fs.exists(_.delta) => k
      }.toSet
      return b.files.filterNot(f => layered.contains(f.bucket))
        .map(f => BucketChangeTask(f.bucket, Seq(f), Nil)) ++
        layered.toSeq.sorted.map(k => BucketChangeTask(k, byBucket(k), Nil))
    }
    fencePurge(from, to, b)
    if (from == to) return Nil
    diffTasks(snapshot(from), b)
  }

  /** One change-scan task per changed bucket between two validated
    * snapshots (the shared body of [[changeFileTasks]] and the batch
    * [[changesBetween]]/[[changesBetweenCdf]] plans).
    */
  private def diffTasks(a: Snapshot, b: Snapshot): Seq[BucketChangeTask] = {
    val (changedBuckets, _) = changedBucketsBetween(a, b)
    if (changedBuckets.isEmpty) return Nil
    val afterByBucket = b.filesForBuckets(changedBuckets).groupBy(_.bucket)
    // a REBUCKET inside the range re-keyed every row's bucket: the
    // per-bucket co-location the task diff relies on is void (a row in
    // after-bucket 13 of 64 lived in before-bucket 5 of 8), so each
    // after-bucket task probes the FULL before-side key set. O(table
    // keys) per task instead of O(bucket) — the honest price of a
    // changelog crossing an all-rows-moved rewrite, which is already a
    // full-table diff at the file level; it yields zero rows (a rebucket
    // moves files, never rows). Uncovered by the round-6 batch/streaming
    // convergence: the FORMER batch anti-join handled this shape, the
    // task form (and the streaming source, from day one) paired buckets
    // by id across different bucket counts and emitted superseded rows.
    if (a.numBuckets != b.numBuckets) {
      val allBefore = a.files
      return changedBuckets.toSeq.sorted
        .filter(afterByBucket.contains) // no after files ⇒ nothing to emit
        .map(k => BucketChangeTask(k, afterByBucket(k), allBefore))
    }
    val beforeByBucket = a.filesForBuckets(changedBuckets).groupBy(_.bucket)
    changedBuckets.toSeq.sorted.map { k =>
      BucketChangeTask(k, afterByBucket.getOrElse(k, Nil),
        beforeByBucket.getOrElse(k, Nil))
    }
  }

  private def validateChangeRange(from: Int, to: Int): Unit = {
    require(from <= to, s"changesBetween: from=$from > to=$to")
    require(from >= -1, s"changesBetween: from=$from (use -1 for the " +
      "initial full-snapshot changelog)")
    val present = existingVersions.toSet
    def checkPresent(v: Int, side: String): Unit =
      require(present.contains(v),
        s"changesBetween: $side snapshot v$v has expired or was never " +
          s"committed (available: ${if (present.isEmpty) "none"
            else s"v${present.min}..v${present.max}"}); a replica behind " +
          "the retention horizon must re-bootstrap with from = -1")
    checkPresent(to, "to")
    if (from >= 0) checkPresent(from, "from")
  }

  private def fencePurge(from: Int, to: Int, b: Snapshot): Unit =
    b.summary.get("purge-version").map(_.toInt)
      .filter(p => p > from && p <= to)
      .foreach(p => throw new IllegalStateException(
        s"changesBetween($from, $to): a purge-tombstones compaction at " +
          s"v$p invalidates deltas crossing it (purged deletes would be " +
          "silently lost); re-bootstrap the replica with from = -1 or " +
          s"read from v$p forward"))

  /** Buckets whose file sets differ between two snapshots, loading only
    * the manifests of bucket GROUPS whose refs differ (metadata-only on
    * carried-by-reference groups).
    */
  private[lake] def changedBucketsBetween(a: Snapshot,
      b: Snapshot): (Set[Int], Boolean) = {
    val aRefs = a.manifests.map(m => m.group -> m.path).toMap
    val bRefs = b.manifests.map(m => m.group -> m.path).toMap
    val changedGroups = (aRefs.keySet ++ bRefs.keySet)
      .filter(g => aRefs.get(g) != bRefs.get(g))
    def sideFiles(s: Snapshot): Seq[DataFile] =
      s.inline ++ LakeTable.loadManifests(
        s.manifests.filter(m => changedGroups.contains(m.group)))
    val aByBucket = sideFiles(a).groupBy(_.bucket).view
      .mapValues(_.map(_.path).toSet).toMap
    val bByBucket = sideFiles(b).groupBy(_.bucket).view
      .mapValues(_.map(_.path).toSet).toMap
    val changed = (aByBucket.keySet ++ bByBucket.keySet)
      .filter(k => aByBucket.get(k) != bByBucket.get(k))
    (changed, changedGroups.nonEmpty)
  }

  /** Change-data-feed read: [[changesBetween]] with BEFORE images — the
    * Delta/Iceberg CDF shape. Each visible state transition in
    * (from, to] emits rows tagged `_change_type`:
    *  - `insert` — key visible in `to` but not in `from` (includes an
    *    undelete: tombstone → live has no visible before-state);
    *  - `update_preimage` + `update_postimage` — key visible on both
    *    sides with a changed (url, _lsn): the `from` row and the `to`
    *    row, one of each;
    *  - `delete` — key visible in `from`, tombstoned in `to`; the row
    *    carries the DELETED payload (the before image — strictly more
    *    useful than the tombstone's nulls, and what Delta CDF emits).
    * Tombstone-to-tombstone churn (no visible state change) emits
    * nothing. `_commit_version` stamps the range end `to` — like any
    * coarse multi-commit diff, intermediate churn collapses to the net
    * transition. `_op` is replaced by `_change_type`; `_lsn` is the
    * emitted image's own version.
    *
    * Why it exists: after-image deltas can maintain a replica (upsert +
    * tombstone), but NOT a derived aggregate — SUM/COUNT maintenance
    * needs the retraction (preimage) of every updated/deleted row.
    * Scale shape identical to [[changesBetween]]: metadata-first bucket
    * diff, reads only changed buckets on both sides, one extra
    * broadcast-or-shuffled semi-join to pull the before rows, all
    * per-url (≤1 live row per side by the lake's latest-state
    * invariant).
    */
  def changesBetweenCdf(from: Int, to: Int): DataFrame = {
    import graft.core.Schemas.OpCol
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField}
    validateChangeRange(from, to)
    val b = snapshot(to)
    if (from == -1)
      return read(b).filter(col(OpCol) =!= "D").drop(OpCol)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(to))
    fencePurge(from, to, b)
    // feed shape: the TO schema's data columns (before rows align to it
    // per file — a schema evolution inside the range null-backfills /
    // widens preimages like every other emission), `_op` replaced by the
    // transition legs
    val cdfSchema = StructType(
      schemaFor(b.schemaId).fields.filterNot(_.name == OpCol).toSeq :+
        StructField("_change_type", StringType) :+
        StructField("_commit_version", IntegerType, nullable = false))
    // round-6: the diff + transition classification run on the task form
    // — one bucket-local probe per changed bucket with the legs emitted
    // in-task, zero exchanges (the former plan paid an anti-join + outer
    // join + explode over the changed buckets). Identical to what the
    // streaming CDF source always executed.
    val tasks = if (from == to) Nil else diffTasks(snapshot(from), b)
    if (tasks.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), cdfSchema)
    graft.cdc.BucketBatchScan.dataFrame(spark, tasks, cdfSchema,
      cdf = true, commitVersion = to, numBuckets = b.numBuckets)
  }

  /** Latest version whose commit wall-clock is at or before `tsMillis`
    * (`TIMESTAMP AS OF` resolution). Commit stamps are one driver clock
    * per writer and monotone in practice; resolution takes the MAX
    * qualifying version so a rare clock wobble between adjacent commits
    * can never resolve to a version that a later-stamped commit
    * supersedes. Legacy snapshots without a stamp sort oldest. O(retained
    * versions) manifest reads — time travel is an interactive path, and
    * expiry bounds the chain.
    */
  def versionAsOf(tsMillis: Long): Int = {
    val vs = existingVersions
    val qualified = vs.filter(v => snapshot(v).summary.get("commit-ts")
      .map(_.toLong).getOrElse(0L) <= tsMillis)
    if (qualified.isEmpty) throw new NoSuchElementException(
      s"no snapshot committed at or before epoch-millis $tsMillis " +
        s"(earliest retained: v${vs.min} at commit-ts " +
        s"${snapshot(vs.min).summary.getOrElse("commit-ts", "unknown")})")
    qualified.max
  }

  /** Allocate a fresh commit directory for a writer (phase 1 of 2PC). */
  def newCommitDir(epoch: Long): String = {
    val p = dataDir.resolve(s"c$epoch-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(p)
    p.toString
  }

  /** Phase 2: publish a new snapshot atomically. Fails (cleanly) if a
    * concurrent committer won the version — optimistic concurrency.
    */
  def commit(next0: Snapshot): Snapshot = {
    // wall-clock commit stamp (TIMESTAMP AS OF resolution; observability
    // via summary['commit-ts']). Deliberately NOT a lineage key — replay
    // fingerprints compare semantic keys, and a replica's own commits
    // carry their own clock.
    val next = if (next0.summary.contains("commit-ts")) next0
      else next0.copy(summary = next0.summary +
        ("commit-ts" -> System.currentTimeMillis().toString))
    val out = mapper.createObjectNode()
    out.put("version", next.version)
    out.put("schemaId", next.schemaId)
    out.put("numBuckets", next.numBuckets)
    val arr = out.putArray("files")
    next.inline.foreach { f =>
      val n = arr.addObject()
      n.put("path", f.path); n.put("bucket", f.bucket)
      n.put("rows", f.rows); n.put("bytes", f.bytes)
      n.put("schemaId", f.schemaId)
      f.tsMin.foreach(n.put("tsMin", _)); f.tsMax.foreach(n.put("tsMax", _))
      if (f.delta) n.put("delta", true)
    }
    if (next.manifests.nonEmpty) {
      val ms = out.putArray("manifests")
      next.manifests.foreach { m =>
        val n = ms.addObject()
        n.put("path", m.path); n.put("group", m.group)
        n.put("numFiles", m.numFiles); n.put("rows", m.rows)
        n.put("bytes", m.bytes)
      }
    }
    val sm = out.putObject("summary")
    next.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sm.put(k, v) }
    val tmp = metaDir.resolve(s".tmp-v${next.version}-${java.util.UUID.randomUUID()}")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(out))
    val dst = metaDir.resolve(s"v${next.version}.json")
    // POSIX rename() REPLACES an existing target, so ATOMIC_MOVE cannot
    // give optimistic concurrency. link(2) is atomic AND fails with EEXIST
    // — the loser of a commit race gets a clean error, never a clobber.
    try {
      Files.createLink(dst, tmp)
      Files.deleteIfExists(tmp)
    } catch { case e: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      throw new CommitConflict(
        s"concurrent commit lost: v${next.version} already exists", e)
    }
    next
  }

  /** Commit a new snapshot from a delta: `newFiles` replace every live
    * file in `touchedBuckets`; everything else carries forward. Only the
    * manifests whose bucket GROUPS intersect the touched set are rewritten
    * — O(touched-files) metadata IO per commit, the at-scale commit path
    * (vs [[commit]]'s inline O(files) list, kept for tiny tables/tests).
    * Legacy inline files from the previous snapshot are folded into
    * grouped manifests on first delta-commit (one-time migration).
    */
  def commitDelta(prev: Snapshot, version: Int, schemaId: Int,
      touchedBuckets: Set[Int], newFiles: Seq[DataFile],
      summary: Map[String, String]): Snapshot = {
    val bpm = bucketsPerManifest
    val touchedGroups = touchedBuckets.map(_ / bpm) ++
      (if (prev.inline.nonEmpty) prev.inline.map(_.bucket / bpm) else Nil) ++
      newFiles.map(_.bucket / bpm)
    val (dirty, carried) = prev.manifests.partition(m => touchedGroups.contains(m.group))
    val keepFromDirty = (prev.inline ++ loadManifests(dirty))
      .filterNot(f => touchedBuckets.contains(f.bucket))
    val regrouped = (keepFromDirty ++ newFiles).groupBy(_.bucket / bpm)
    val rewritten = regrouped.toSeq.map { case (g, fs) =>
      writeManifest(metaDir, version, g, fs)
    }
    commit(Snapshot(version, schemaId, prev.numBuckets, Nil, summary,
      (carried ++ rewritten).sortBy(_.group)))
  }

  /** [[commitDelta]] with OPTIMISTIC REBASE across disjoint rivals — the
    * Iceberg-style validation retry. Losing the version race today costs
    * the writer its whole attempt: re-read the advanced snapshot,
    * re-resolve, re-write phase-1 data. But when every rival commit
    * between `base0` and the new head provably left `touchedBuckets`
    * byte-identical (the manifest file-set diff — metadata-only), the
    * already-written delta is still the correct post-image of those
    * buckets: re-point it at the head and publish, paying one manifest
    * rewrite instead of a full batch re-run. This is the dominant race
    * shape at scale — maintenance compacting COLD buckets while the
    * stream merges HOT ones — and it turns that race from O(batch
    * re-run) into O(touched manifest groups).
    *
    * Rebase is refused (rethrowing the race loss, so the caller's full
    * retry takes over) when:
    *  - the head changed `numBuckets` (our files' bucket layout is
    *    stale) or `schemaId` (a rival evolution — the full retry
    *    re-aligns against the new registry schema);
    *  - any rival touched one of our buckets (file-set diff intersects)
    *    — includes compaction/rollback/purge of them, since all rewrite
    *    file paths;
    *  - the caller's `eligible` veto fails (e.g. the merge's
    *    exactly-once gate was advanced past this epoch by a rival —
    *    this batch must NOT re-publish);
    *  - `maxRebases` chained rivals already rebased this commit (a
    *    livelock guard; the caller's bounded retry still applies).
    *
    * `summaryFor` re-derives the summary from each candidate base so
    * inherited lineage (gates, watermark, lsn-high-water) comes from the
    * snapshot actually being built on, never the stale one.
    */
  def commitDeltaRebasing(base0: Snapshot, schemaId: Int,
      touchedBuckets: Set[Int], newFiles: Seq[DataFile],
      summaryFor: Snapshot => Map[String, String],
      eligible: Snapshot => Boolean = _ => true,
      maxRebases: Int = 3): Snapshot = {
    var base = base0
    var rebases = 0
    while (true) {
      try return commitDelta(base, base.version + 1, schemaId,
        touchedBuckets, newFiles, summaryFor(base))
      catch { case e: CommitConflict =>
        val head = currentSnapshot
        val ok = rebases < maxRebases &&
          head.version > base.version &&
          head.numBuckets == base.numBuckets &&
          head.schemaId == base.schemaId &&
          eligible(head) &&
          changedBucketsBetween(base, head)._1
            .intersect(touchedBuckets).isEmpty
        if (!ok) throw e
        rebases += 1
        LakeTable.commitRebases.incrementAndGet()
        base = head
      }
    }
    sys.error("unreachable")
  }

  /** Additive commit with FAST-APPEND race recovery — the merge-on-read
    * publish. A MoR delta is a pure function of its BATCH (the write
    * path never read table state), so the correct post-image on ANY
    * compatible head is simply `head's files + newFiles`: losing the
    * version race costs ONE metadata recompute, never a batch re-run —
    * regardless of whether the rival touched our buckets. Rivals that
    * compacted/purged our buckets are fine (our layers stack over the
    * new bases and the argmax is unchanged); a rival truncate/rollback
    * linearizes BEFORE this batch (commit order is the serialization
    * order, so "the batch arrived after the surgery" is the correct
    * history). The only refusals, rethrown to the caller's full retry:
    *  - `numBuckets` changed (our per-bucket layout is stale — the full
    *    retry re-buckets the batch);
    *  - the caller's `eligible` veto (exactly-once gate advanced);
    *  - `maxRetries` chained losses (livelock guard).
    * `schemaId` commits at max(ours, head's) so a rival evolution is
    * never regressed; our older-schema layers align on read like any
    * old file. `summaryFor`/`filesFor` re-derive from each head so
    * lineage and the carried file set always match the snapshot
    * actually built on.
    */
  def commitDeltaAppending(base0: Snapshot, schemaId: Int,
      touchedBuckets: Set[Int], newFiles: Seq[DataFile],
      summaryFor: Snapshot => Map[String, String],
      eligible: Snapshot => Boolean = _ => true,
      maxRetries: Int = 10): Snapshot = {
    var base = base0
    var lost = 0
    while (true) {
      try return commitDelta(base, base.version + 1,
        math.max(schemaId, base.schemaId), touchedBuckets,
        base.filesForBuckets(touchedBuckets) ++ newFiles, summaryFor(base))
      catch { case e: CommitConflict =>
        val head = currentSnapshot
        val ok = lost < maxRetries &&
          head.version > base.version &&
          head.numBuckets == base.numBuckets &&
          eligible(head)
        if (!ok) throw e
        lost += 1
        LakeTable.commitRebases.incrementAndGet()
        LakeTable.commitRaceBackoff(lost)
        base = head
      }
    }
    sys.error("unreachable")
  }

  /** Commit a FULL-table rewrite, optionally at a NEW bucket count
    * (bucket-count evolution — [[Maintenance.rebucket]]). `newFiles`
    * must be the complete live file set, already laid out under
    * `numBuckets` ([[graft.cdc.Merge.bucketOf]] at the new count); every
    * previous manifest is superseded and the whole list is rewritten
    * under the new group numbering. Metadata IO is O(files) — matching
    * the O(table) data rewrite such a commit always fronts; incremental
    * commits keep using [[commitDelta]].
    */
  def commitRewrite(prev: Snapshot, schemaId: Int, numBuckets: Int,
      newFiles: Seq[DataFile], summary: Map[String, String]): Snapshot = {
    val version = prev.version + 1
    val rewritten = newFiles.groupBy(_.bucket / bucketsPerManifest)
      .toSeq.map { case (g, fs) => writeManifest(metaDir, version, g, fs) }
    commit(Snapshot(version, schemaId, numBuckets, Nil, summary,
      rewritten.sortBy(_.group)))
  }

  /** Metadata-only commit (reference analog K7: annotation write-back,
    * reannotate_files.R:11-19): new snapshot, same data files and schema,
    * updated summary properties. Carries manifests forward by reference —
    * O(refs), no manifest rewrites.
    */
  def updateProperties(props: Map[String, String]): Snapshot = {
    val s = currentSnapshot
    commit(s.copy(version = s.version + 1,
      summary = LakeTable.inheritLineage(s.summary) ++ props))
  }

  /** Highest batch epoch already committed — the exactly-once gate.
    * Every commit (merge, metadata, compaction) carries the running
    * `last-epoch` watermark forward, so one manifest read answers this in
    * O(1) and the watermark survives snapshot expiry. Falls back to a
    * full-chain scan for manifests written before the key existed.
    *
    * Epoch NAMESPACES: independent drivers get independent gates — the
    * streaming tail / log replay gate on `stream-epoch` while batch
    * callers (SQL MERGE, CLI) gate on `last-epoch` — because one shared
    * high-water over two unrelated epoch sequences lets a SQL MERGE on a
    * tailed table advance the gate past the stream's next batchId and
    * silently swallow it (round-2 review). `last-epoch` additionally
    * advances on EVERY commit (it allocates unique epochs for lineage).
    */
  def lastCommittedEpoch: Option[Long] = lastCommittedEpoch(currentSnapshot)

  def lastCommittedEpoch(s: Snapshot, key: String = "last-epoch"): Option[Long] =
    s.summary.get(key).map(_.toLong)
      .orElse(if (key != "last-epoch") None
        else existingVersions.flatMap(i => snapshot(i).epoch)
          .reduceOption(_ max _))
}

object LakeTable {

  private val mapper = new ObjectMapper()
  private val ManifestName = "v(\\d+)\\.json".r

  /** Summary keys every commit must carry forward for gates/lineage to
    * survive metadata-only commits, compaction, and snapshot expiry:
    * the per-namespace exactly-once high-waters and the event-time
    * watermark (dropping `watermark-ms` silently reset T6 late-data
    * lineage after every compaction — round-2 review). `stream-epoch`
    * covers both the replay gate and every per-checkpoint tail gate
    * (`stream-epoch-<ck>`) by PREFIX — a tail's namespace must survive
    * commits made by other drivers or its resume gate silently resets.
    */
  val lineageKeys: Seq[String] =
    Seq("last-epoch", "watermark-ms", "purge-version", "lsn-high-water",
      // table write mode ("cow" default / "mor") — a persisted property,
      // set via updateProperties / CALL graft.system.set_write_mode
      "write-mode",
      // running count of live MoR delta files — O(1) metadata for
      // Maintenance.plan's fold trigger; reset to 0 by compact/rebucket
      // (they rewrite every layered bucket). A CoW merge that happens to
      // fold some layered buckets leaves it an overestimate — a
      // maintenance heuristic, never a correctness input.
      "mor-delta-files")

  /** Commits salvaged by [[LakeTable.commitDeltaRebasing]] in this JVM —
    * each one is a full batch re-run that did NOT happen.
    */
  val commitRebases = new java.util.concurrent.atomic.AtomicLong(0)

  /** The subset of `summary` that must survive into the next commit. */
  def inheritLineage(summary: Map[String, String]): Map[String, String] =
    summary.view.filterKeys(k =>
      lineageKeys.contains(k) || k.startsWith("stream-epoch")).toMap

  /** Jittered exponential backoff between commit-race retries. Two
    * writers that lose in lockstep (merge re-run ≈ rival's rewrite
    * cadence) otherwise re-collide attempt after attempt until one
    * exhausts its retry budget — observed as a streaming sink giving up
    * after 5 straight losses to a tight compaction loop. The jitter
    * breaks the phase lock; the cap keeps a busy table's worst-case
    * added latency at ~2 s per lost race.
    */
  def commitRaceBackoff(lost: Int): Unit = {
    val cap = math.min(2000L, 50L << math.min(lost, 5))
    Thread.sleep(cap / 2 +
      java.util.concurrent.ThreadLocalRandom.current().nextLong(cap / 2 + 1))
  }

  /** Bucket-group width of one manifest file. 64 keeps the manifest list
    * at numBuckets/64 refs (1.5k at 10^5 buckets) and each manifest at
    * ~64 files post-compaction — both well under a driver-side millisecond
    * to (de)serialize, at any table size this engine targets.
    */
  val bucketsPerManifest: Int = 64

  /** Load many manifests with pooled driver IO. Serial reads are fine on
    * a local FS but become the commit/planning floor on an object store
    * (~50 ms/GET × hundreds of touched groups); the pool bounds that at
    * pool-depth round trips, same policy as Merge's footer reads.
    */
  private[lake] def loadManifests(ms: Seq[ManifestRef]): Seq[DataFile] = {
    if (ms.isEmpty) return Nil
    if (ms.size == 1) return loadManifest(ms.head)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, ms.size))
    try {
      ms.map(m => pool.submit(new java.util.concurrent.Callable[Seq[DataFile]] {
        def call(): Seq[DataFile] = loadManifest(m)
      })).flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Read one manifest file → its data-file list. */
  private[lake] def loadManifest(m: ManifestRef): Seq[DataFile] = {
    val node = mapper.readTree(Paths.get(m.path).toFile)
    node.get("files").elements().asScala.map { f =>
      DataFile(f.get("path").asText(), f.get("bucket").asInt(),
        f.get("rows").asLong(), f.get("bytes").asLong(),
        f.get("schemaId").asInt(),
        if (f.has("tsMin")) Some(f.get("tsMin").asLong()) else None,
        if (f.has("tsMax")) Some(f.get("tsMax").asLong()) else None,
        delta = f.has("delta") && f.get("delta").asBoolean())
    }.toSeq
  }

  /** Write one immutable manifest file for bucket group `group`. Becomes
    * live only when a snapshot referencing it is published; a crash before
    * that leaves an orphan cleaned by [[Maintenance.gc]].
    */
  private[lake] def writeManifest(metaDir: Path, version: Int, group: Int,
      files: Seq[DataFile]): ManifestRef = {
    val dir = metaDir.resolve("manifests")
    Files.createDirectories(dir)
    val out = mapper.createObjectNode()
    val arr = out.putArray("files")
    files.foreach { f =>
      val n = arr.addObject()
      n.put("path", f.path); n.put("bucket", f.bucket)
      n.put("rows", f.rows); n.put("bytes", f.bytes)
      n.put("schemaId", f.schemaId)
      f.tsMin.foreach(n.put("tsMin", _)); f.tsMax.foreach(n.put("tsMax", _))
      if (f.delta) n.put("delta", true)
    }
    val p = dir.resolve(
      s"m$version-g$group-${java.util.UUID.randomUUID().toString.take(8)}.json")
    Files.writeString(p, mapper.writeValueAsString(out))
    ManifestRef(p.toString, group, files.size,
      files.map(_.rows).sum, files.map(_.bytes).sum)
  }

  def create(spark: SparkSession, dir: String, schemaId: Int,
      numBuckets: Int): LakeTable = {
    val t = new LakeTable(dir, spark)
    Files.createDirectories(Paths.get(dir, "meta"))
    Files.createDirectories(Paths.get(dir, "data"))
    t.commit(Snapshot(0, schemaId, numBuckets, Nil,
      Map("created" -> "true")))
    t
  }

  def load(spark: SparkSession, dir: String): LakeTable = {
    require(Files.exists(Paths.get(dir, "meta")), s"not a lake table: $dir")
    new LakeTable(dir, spark)
  }

  def exists(dir: String): Boolean = Files.exists(Paths.get(dir, "meta"))

  /** Latest-wins resolution of merge-on-read layers: one row per url —
    * the max of struct(warc_ts, _lsn, payload…), byte-identical to the
    * argmax the CoW write path applies ([[graft.cdc.Merge.applyBatch]]
    * step 5), so a MoR table reads exactly what its CoW twin stores.
    * Tombstone winners are KEPT (`_op = 'D'`) — [[LakeTable.readUser]]
    * filters them like any base-file tombstone, and a late upsert older
    * than a delete still cannot resurrect the key. One hash-agg exchange
    * over only the layered rows; map-side partial combine applies (≤
    * layers rows per url).
    *
    * The `_m` alias carries [[graft.plans.PruneArgmaxStruct.PrefixKey]] =
    * 2: the (warc_ts, _lsn) prefix alone decides the max (`_lsn` is
    * globally unique; an equal prefix across layers is the same event
    * re-published, payload identical), so the injected optimizer rule may
    * prune payload fields a narrow query never extracts — the scan under
    * the resolve then stops reading `html` for a `SELECT url, lang`.
    */
  private[graft] def resolveLatest(df: DataFrame,
      target: StructType): DataFrame = {
    val orderCols = Seq("warc_ts", graft.core.Schemas.LsnCol)
    val payload = target.fields.map(_.name)
      .filterNot(c => c == "url" || orderCols.contains(c))
    val pack = orderCols ++ payload
    val marker = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(graft.plans.PruneArgmaxStruct.PrefixKey, orderCols.size.toLong)
      .build()
    df.groupBy(col("url"))
      .agg(max(struct(pack.map(col): _*)).as("_m", marker))
      .select(target.fields.map(f =>
        if (f.name == "url") col("url")
        else col(s"_m.${f.name}").as(f.name)).toSeq: _*)
  }

  /** Cast / null-backfill `df` to `target` column-by-column. */
  private[graft] def align(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
}
