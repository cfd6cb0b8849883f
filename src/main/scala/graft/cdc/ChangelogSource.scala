package graft.cdc

import graft.lake.{DataFile, LakeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{
  InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics,
  SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{
  DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{
  DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Stream offset = lake table version: the changelog position is exactly
  * the snapshot chain, so Spark's checkpointed offset log records version
  * ranges and a restart replays precisely the uncommitted range.
  */
final case class VersionOffset(version: Long) extends Offset {
  override val json: String = version.toString
}

/** The changelog as a FIRST-CLASS Structured Streaming source on the
  * SUPPORTED DataSource V2 surface (round-4 verdict #5: `TableProvider` +
  * `MicroBatchStream`, no `org.apache.spark.sql.execution.*` anywhere in
  * the streaming code) — the `spark.readStream.format("graft-changelog")`
  * shape (Delta/Iceberg CDF-read analog on the graft lake format).
  *
  * Execution model (the Iceberg pattern, not a spooled DataFrame): each
  * micro-batch plans [[LakeTable.changeFileTasks]] — ONE InputPartition
  * per changed bucket, carrying that bucket's `to`-side files and
  * `from`-side files. Because the lake is bucket-hash partitioned on
  * url, the (url, _lsn) anti-join that defines the delta is bucket-LOCAL:
  * each reader probes its own before-side key set (column-projected to
  * (url, _lsn) — the payload columns never leave parquet) while
  * streaming its after-side rows. Zero shuffles; the batch
  * `changesBetween` plan pays two exchanges for the same result. A
  * bootstrap (`from = -1`) plans one partition per FILE with no before
  * side.
  *
  * Delivery is exactly-once TO THE SINK CONTRACT: a crash between
  * planning and the batch commit re-plans the identical range
  * (changeFileTasks is deterministic given retained snapshots), and an
  * idempotent sink (the graft-lake sink gates on batchId) makes the
  * pipeline exactly-once end to end.
  *
  * Range semantics (same contracts as [[LakeTable.changesBetween]]):
  *  - a fresh checkpoint's first batch is the Iceberg-style INITIAL
  *    changelog (`from = -1`): the full current snapshot. `option
  *    ("startingVersion", "latest")` skips it and tails new changes only;
  *    `option("startingVersion", n)` starts from version n's delta.
  *  - an expired `from` (retention breach) or a purge-tombstones
  *    compaction inside a pending range FAILS the stream with the
  *    re-bootstrap guidance error — never silently-wrong deltas. The
  *    operator restarts with a fresh checkpoint (→ full-snapshot
  *    bootstrap), the replace-state resync.
  *  - a MID-STREAM schema evolution (ALTER TABLE while the query runs)
  *    FAILS the stream at offset-planning time with restart guidance
  *    (round-4 verdict #3): the declared schema is fixed per run, and
  *    silently emitting the old projection would drop the new column
  *    from every downstream replica. The checkpoint stays valid — on
  *    restart the schema re-resolves and the pending range replays
  *    null-backfilled under the evolved schema. The driver-loop
  *    [[ChangeFeed.replicate]] remains the evolve-WHILE-running path.
  *
  * Catch-up shape at scale: one batch over (from, current] is ONE
  * manifest-ref diff + per-changed-bucket tasks — a replica that fell
  * 10k versions behind pays one coarse diff that collapses the
  * intermediate churn, not 10k incremental reads. `option
  * ("maxVersionsPerBatch", k)` bounds the range instead when steady
  * commit granularity on the replica matters more than minimal read
  * volume.
  */
final class GraftChangelogProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-changelog"

  override def supportsExternalMetadata(): Boolean = true

  /** schemaId captured by the SAME metadata load that resolved the
    * declared schema in [[inferSchema]], keyed by table dir. The
    * evolution guard must reference the id the declared projection came
    * FROM: re-loading in [[getTable]] leaves a window (and r5's first
    * fix left a narrower one between inferSchema and getTable) where an
    * ALTER pins the guard PAST the declared schema and every batch
    * silently emits the old columns. One load, one consistent
    * (schema, id) pair — and no second metadata round-trip per load().
    */
  private val resolvedSchemaId =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftChangelog.tableDir(options)
    val t = LakeTable.load(SparkSession.active, dir)
    val snap = t.currentSnapshot
    resolvedSchemaId.put(dir, snap.schemaId)
    GraftChangelog.declaredFor(t, snap.schemaId, GraftChangelog.isCdf(options))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val dir = GraftChangelog.tableDir(options)
    // user-supplied external .schema(...): inferSchema never ran, so
    // resolve the guard reference here (the declared projection is the
    // USER'S fixed choice — a deliberate narrowing never trips the
    // guard; evolution past this point still does)
    val loadSchemaId = Option(resolvedSchemaId.get(dir)).map(_.toInt)
      .getOrElse(LakeTable.load(SparkSession.active, dir)
        .currentSnapshot.schemaId)
    new ChangelogTable(schema, options, loadSchemaId)
  }
}

private[cdc] object GraftChangelog {

  def tableDir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    if (p == null) throw new IllegalArgumentException(
      "graft-changelog: set .option(\"path\", <lake table dir>)")
    p
  }

  /** `option("cdf", "true")` emits the change-data-feed shape instead of
    * after-image deltas: `_op` replaced by `_change_type`
    * (insert / update_preimage / update_postimage / delete-with-payload)
    * + `_commit_version` — for foreachBatch consumers maintaining derived
    * state by retraction (e.g. [[graft.cdc.MaterializedAgg]]'s streaming
    * twin), NOT for the `graft-lake` sink (which applies upsert/tombstone
    * events).
    */
  def isCdf(options: CaseInsensitiveStringMap): Boolean =
    options.getBoolean("cdf", false)

  def declaredFor(t: LakeTable, schemaId: Int, cdf: Boolean): StructType = {
    val base = t.schemaFor(schemaId)
    if (!cdf) base
    else StructType(
      base.fields.filterNot(_.name == graft.core.Schemas.OpCol)
        :+ StructField("_change_type", StringType, nullable = false)
        :+ StructField("_commit_version", IntegerType, nullable = false))
  }
}

private[cdc] final class ChangelogTable(declared: StructType,
    options: CaseInsensitiveStringMap, loadSchemaId: Int)
  extends Table with SupportsRead {

  override def name(): String =
    s"graft-changelog:${GraftChangelog.tableDir(options)}"

  override def schema(): StructType = declared

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = declared
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangelogMicroBatchStream(declared, options, checkpointLocation,
            loadSchemaId)
      }
    }
}

private[cdc] final class ChangelogMicroBatchStream(declared: StructType,
    options: CaseInsensitiveStringMap, metadataPath: String,
    loadSchemaId: Int)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val spark = SparkSession.active
  private val dir = GraftChangelog.tableDir(options)
  private val cdf = GraftChangelog.isCdf(options)
  private val maxVersionsPerBatch: Option[Int] = {
    val m = Option(options.get("maxVersionsPerBatch")).map(_.trim.toInt)
    require(m.forall(_ >= 1),
      s"graft-changelog: maxVersionsPerBatch must be >= 1, got $m")
    m
  }
  /** Rows-budget admission (the Kafka `maxOffsetsPerTrigger` shape, but
    * in the unit an operator actually provisions for): versions vary
    * wildly in size — one is a 3-row fixup, the next a 10^8-row backfill
    * — so a version-count bound alone can't cap a batch's memory/work.
    * Priced from each commit's own `rows-applied` lineage stamp
    * (metadata-only; versions are admitted until the budget is crossed,
    * always at least one so the stream can't stall). Row-less commits
    * (compaction, rollback) pass through free — they emit no change rows.
    */
  private val maxRowsPerBatch: Option[Long] = {
    val m = Option(options.get("maxRowsPerBatch")).map(_.trim.toLong)
    require(m.forall(_ >= 1),
      s"graft-changelog: maxRowsPerBatch must be >= 1, got $m")
    m
  }

  private def table: LakeTable = LakeTable.load(spark, dir)

  /** Schema id captured when `load()` resolved the declared schema (see
    * [[GraftChangelogProvider.getTable]]) — the evolution guard compares
    * against THIS, so a user-narrowed `.schema(...)` does not trip it,
    * while an ALTER landing anywhere after load() (including the
    * load-to-start gap) fails the first batch.
    */
  private val startSchemaId: Int = loadSchemaId

  // Trigger.AvailableNow pins its end version at prepare time, so a drain
  // terminates even while merges keep landing on the source table.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionOf(o: Offset): Long = o match {
    case VersionOffset(v) => v
    case other => other.json.trim.toLong
  }

  /** `startingVersion` resolves ONCE per checkpoint and persists under
    * the source's metadataPath (the Kafka-source pattern): without it, a
    * restart that re-resolved "latest" against a since-moved table would
    * silently skip every delta landed while the query was down.
    */
  private val initialFrom: Int =
    ChangelogStartingVersion.readOrResolve(spark, metadataPath, {
      Option(options.get("startingVersion")) match {
        case None => -1
        case Some("latest") => table.currentVersion
        case Some(v) => v.toIntOption.filter(_ >= 0).map(_ - 1).getOrElse(
          throw new IllegalArgumentException("graft-changelog: " +
            s"startingVersion must be a version number or 'latest', got '$v'"))
      }
    })

  override def initialOffset(): Offset = VersionOffset(initialFrom.toLong)

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = Option(startOffset).map(versionOf).getOrElse(initialFrom.toLong)
    var end = table.currentVersion.toLong
    availableNowCap.foreach(cap => end = math.min(end, cap))
    maxVersionsPerBatch.foreach(m => end = math.min(end, start + m))
    maxRowsPerBatch.foreach { budget =>
      // admit versions until the row budget is crossed — the version that
      // crosses it is INCLUDED (budget is a target, not a hard ceiling: a
      // single over-budget version must still flow), and at least one is
      // always admitted so the stream can't stall. acc starts below the
      // (≥1) budget, so when end > start the loop admits ≥1 version.
      if (end > start) {
        var acc = 0L
        var v = start + 1
        while (v <= end && acc < budget) {
          acc += table.snapshot(v.toInt).summary
            .get("rows-applied").flatMap(_.toLongOption).getOrElse(0L)
          v += 1
        }
        end = v - 1
      }
    }
    if (end <= start) return VersionOffset(start) // caught up: no batch
    // mid-stream evolution guard: a version in reach whose schema grew
    // beyond the stream-start schema must FAIL (restartable), never emit
    // the silently-narrowed old projection
    val endSid = table.snapshot(end.toInt).schemaId
    if (endSid != startSchemaId) {
      val startSchema = table.schemaFor(startSchemaId)
      val endSchema = table.schemaFor(endSid)
      val startNames = startSchema.fieldNames.toSet
      val grown = endSchema.fieldNames.filterNot(startNames)
      // a WIDENED column (int->long etc.) is as fatal as an added one:
      // files past the boundary store the wide physical type, which the
      // stream-start read schema can neither resolve nor narrow safely
      val retyped = startSchema.fields.collect {
        case f if endSchema.fields.exists(e =>
            e.name == f.name && e.dataType != f.dataType) => f.name
      }
      if (grown.nonEmpty || retyped.nonEmpty) {
        val what =
          (if (grown.nonEmpty) Seq(s"adds ${grown.mkString(", ")}") else Nil) ++
          (if (retyped.nonEmpty) Seq(s"retypes ${retyped.mkString(", ")}") else Nil)
        throw new IllegalStateException(
          s"graft-changelog: the source table's schema evolved mid-stream " +
            s"(s$startSchemaId -> s$endSid ${what.mkString("; ")}). " +
            "Restart the query to pick up the evolved schema — the " +
            "checkpoint remains valid and the pending range will replay " +
            "under the new schema. (A fixed-schema stream silently " +
            "dropping or narrowing the evolved column is never an option.)")
      }
    }
    VersionOffset(end)
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = versionOf(start).toInt
    val to = versionOf(end).toInt
    val t = table
    // retention breach / purge-in-range raise here with re-bootstrap
    // guidance (same contract as the batch changesBetween)
    val tasks = t.changeFileTasks(from, to)
    tasks.map(x =>
      ChangelogPartition(x.bucket, x.after, x.before, to): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(declared.json, cdf,
      ParquetRowCodec.hadoopConfDelta(spark))

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  /** Replication LAG into every StreamingQueryProgress (the north
    * star's "throughput/lag metrics"; the Kafka-source
    * `ReportsSourceMetrics` pattern): how many source versions the
    * consumed offset trails the table head — nonzero under a
    * `maxVersionsPerBatch` bound or when commits outpace the trigger.
    * One metadata read (current version), no files touched.
    */
  override def metrics(latestConsumed: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val consumed =
      if (latestConsumed.isPresent) versionOf(latestConsumed.get)
      else initialFrom.toLong
    val head = table.currentVersion.toLong
    Map(
      "versionsBehindLatest" -> math.max(0L, head - consumed).toString,
      "consumedVersion" -> consumed.toString,
      "latestVersion" -> head.toString).asJava
  }

  // retention is the table's own contract (Maintenance.expireSnapshots);
  // nothing to release per-batch
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"ChangelogSource[$dir]"
}

/** Starting-version persistence under the source's checkpoint metadata
  * path. Write is temp-file + rename (atomic on the FS classes that back
  * a checkpoint dir) and the reader treats an empty/unparsable file as
  * ABSENT-and-rewritable — a crash between create and write can never
  * wedge every later stream start on a bare NumberFormatException
  * (round-4 advice).
  */
private[cdc] object ChangelogStartingVersion {

  private def fsPath(spark: SparkSession, metadataPath: String) = {
    val p = new org.apache.hadoop.fs.Path(metadataPath, "starting-version")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def readOrResolve(spark: SparkSession, metadataPath: String,
      resolve: => Int): Int = {
    val (fs, p) = fsPath(spark, metadataPath)
    val existing: Option[Int] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8").trim
          finally in.close()
        txt.toIntOption match {
          case some @ Some(_) => some
          case None => // torn first write: absent-and-rewritable
            System.err.println(s"[graft-changelog] $p is empty/unparsable " +
              s"('$txt') — a crash tore the first write; re-resolving")
            None
        }
      }
    existing.getOrElse {
      val v = resolve
      val tmp = new org.apache.hadoop.fs.Path(metadataPath,
        s".starting-version.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      fs.mkdirs(new org.apache.hadoop.fs.Path(metadataPath))
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      // rename, not create-in-place: the visible file is always complete
      if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        // a rival won the rename (same deterministic value) — or rename
        // is unsupported; surface only if the target is still absent
        if (!fs.exists(p)) throw new java.io.IOException(
          s"graft-changelog: could not persist starting-version at $p")
      }
      v
    }
  }
}

/** One changed bucket's change-scan task (see
  * [[LakeTable.changeFileTasks]]) shipped to an executor: the after/
  * before file lists. Executors never read lake metadata — each reader
  * resolves its target columns against the parquet file's OWN schema
  * ([[ParquetRowCodec.RowReadSupport]] null-backfills/widens per file).
  */
private[cdc] final case class ChangelogPartition(bucket: Int,
    after: Seq[DataFile], before: Seq[DataFile], commitVersion: Int)
  extends InputPartition

/** Shared by the streaming micro-batch stream and the batch
  * [[BucketBatchScan]] — `output` is the (possibly column-pruned) schema
  * the reader must EMIT; the reader derives the parquet read set itself.
  */
private[cdc] final class ChangelogReaderFactory(outputJson: String,
    cdf: Boolean,
    hadoopConfDelta: Seq[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChangelogPartitionReader(
      partition.asInstanceOf[ChangelogPartition],
      DataType.fromJson(outputJson).asInstanceOf[StructType], cdf,
      hadoopConfDelta)
}

/** Bucket-local changelog resolution: probe the before-side (url, _lsn)
  * key set (column-projected — payloads never read), stream the
  * after-side rows, emit the moved ones (after-image mode) or their
  * insert/update/delete transition legs (CDF mode). Memory is the
  * before-side KEYS for after-image mode and the before-side ROWS for
  * CDF — one bucket's worth, the unit the lake already sizes to fit an
  * executor (a merge rewrites whole buckets).
  *
  * Column pruning (round-6): `output` is whatever projection the caller
  * needs — the full declared schema on the streaming path, or the
  * pruned schema DSv2 pushed down on the batch path. The parquet read
  * set is `output`'s data columns plus only the internals the diff /
  * layer-resolve itself consumes (url + _lsn always; warc_ts only when
  * a side is layered or asked for; _op only in CDF mode or when asked
  * for) — so a narrow read over layered buckets never decodes `html`,
  * with no optimizer rule in the loop.
  */
private[cdc] final class ChangelogPartitionReader(p: ChangelogPartition,
    output: StructType, cdf: Boolean,
    hadoopConfDelta: Seq[(String, String)])
  extends PartitionReader[InternalRow] {

  /** The JVM's shared conf for this payload ([[ParquetRowCodec.confFrom]]):
    * one instance for every task under the same session conf, read-only.
    */
  private[cdc] val conf = ParquetRowCodec.confFrom(hadoopConfDelta)

  /** merge-on-read LAYERED side: ≥2 files with a delta among them means
    * urls can overlap across the layers — see the resolve notes below.
    */
  private def needsResolve(fs: Seq[DataFile]): Boolean =
    fs.size >= 2 && fs.exists(_.delta)
  private val layeredAfter = needsResolve(p.after)
  private val layeredBefore = needsResolve(p.before)

  /** `output`'s data columns (CDF's `_change_type`/`_commit_version` are
    * generated by this reader, never read from parquet).
    */
  private val outputBase: Array[StructField] =
    output.fields.filterNot(f =>
      cdf && (f.name == "_change_type" || f.name == "_commit_version"))

  /** Rows materialized from the after side: the output's data columns
    * plus whatever the diff/resolve itself needs. Internals are appended
    * AFTER the output columns, so when nothing was pruned (the streaming
    * path) the emission below is an identity pass-through.
    */
  private val readTarget: StructType = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val have = outputBase.map(_.name).toSet
    val internals = Seq(
      StructField("url", StringType, nullable = false),
      StructField("warc_ts", TimestampType, nullable = false),
      StructField(graft.core.Schemas.LsnCol, LongType),
      StructField(graft.core.Schemas.OpCol, StringType))
      .filterNot(f => have.contains(f.name))
      .filter {
        case f if f.name == "warc_ts" => layeredAfter || layeredBefore
        case f if f.name == graft.core.Schemas.OpCol => cdf
        case _ => true
      }
    StructType(outputBase.toSeq ++ internals)
  }
  private val urlIdx = readTarget.fieldIndex("url")
  private val tsIdx =
    if (readTarget.fieldNames.contains("warc_ts"))
      readTarget.fieldIndex("warc_ts") else -1
  private val lsnIdx = readTarget.fieldIndex(graft.core.Schemas.LsnCol)
  private val opIdx =
    if (cdf) readTarget.fieldIndex(graft.core.Schemas.OpCol) else -1
  private val D = UTF8String.fromString("D")

  /** output ordinal → readTarget ordinal; -1 = `_change_type`,
    * -2 = `_commit_version` (generated).
    */
  private val outProj: Array[Int] = output.fields.map {
    case f if cdf && f.name == "_change_type" => -1
    case f if cdf && f.name == "_commit_version" => -2
    case f => readTarget.fieldIndex(f.name)
  }
  // outputBase is a prefix of readTarget by construction, so equal
  // lengths ⇒ the projection is the identity (no per-row copy)
  private val identityProj = !cdf && output.length == readTarget.length

  // (layeredAfter/layeredBefore are defined above readTarget: a side
  // must resolve latest-wins per url BEFORE the diff — streaming layered
  // rows through the (url, _lsn) probe would emit superseded rows.
  // Resolution is the same (warc_ts, _lsn) argmax as
  // LakeTable.resolveLatest, done in one bucket-local hash map (a bucket
  // is the unit the lake already sizes to fit an executor; CDF mode
  // holds before-side ROWS the same way). A single-file side — a base,
  // or one delta over nothing — has unique urls by construction and
  // keeps the streaming path. Each side decides for itself.)

  /** v beats cur under the lake's latest-wins order. Equal (warc_ts,
    * _lsn) across layers means the same event re-published through
    * another gate namespace — byte-identical rows, either wins.
    */
  private def beats(v: Array[Any], cur: Array[Any], tsI: Int,
      lsnI: Int): Boolean = {
    val tv = v(tsI).asInstanceOf[Long]; val tc = cur(tsI).asInstanceOf[Long]
    tv > tc || (tv == tc &&
      v(lsnI).asInstanceOf[Long] > cur(lsnI).asInstanceOf[Long])
  }

  private def resolveLayers(rows: Iterator[Array[Any]], uI: Int, tsI: Int,
      lsnI: Int): java.util.HashMap[UTF8String, Array[Any]] = {
    val best = new java.util.HashMap[UTF8String, Array[Any]]()
    rows.foreach { v =>
      val url = v(uI).asInstanceOf[UTF8String]
      val cur = best.get(url)
      if (cur == null || beats(v, cur, tsI, lsnI)) best.put(url, v)
    }
    best
  }

  /** Latest-wins winners of a LAYERED file set, memory-bounded by the
    * DELTA layers, not the bucket (round-6): the bucket's base files are
    * unique-url by construction (a CoW rewrite / compaction replaces
    * them wholesale), so only the delta rows go into the resolve map —
    * the base files then STREAM through a probe (usually a miss: the
    * delta set is one batch's hot keys), emitting immediately when the
    * base row wins and consuming the map entry when a delta superseded
    * it; un-probed delta entries (new keys) flush after the bases drain.
    * O(delta rows) map instead of O(bucket rows) — at a 256 MB bucket
    * with a 1% hot set that is the difference between a few MB and the
    * whole bucket resident per task.
    */
  private def resolvedRows(files: Seq[DataFile], target: StructType,
      uI: Int, tsI: Int, lsnI: Int): Iterator[Array[Any]] = {
    import scala.jdk.CollectionConverters._
    val (deltas, bases) = files.partition(_.delta)
    val dmap = resolveLayers(
      deltas.iterator.flatMap(fileRows(_, target)), uI, tsI, lsnI)
    val baseWinners = bases.iterator.flatMap(fileRows(_, target))
      .flatMap { v =>
        val d = dmap.get(v(uI).asInstanceOf[UTF8String])
        if (d == null) Iterator.single(v)
        else if (beats(v, d, tsI, lsnI)) {
          dmap.remove(v(uI).asInstanceOf[UTF8String]); Iterator.single(v)
        } else Iterator.empty
      }
    baseWinners ++ dmap.values().iterator().asScala
  }

  // the one parquet reader open right now (files are read strictly
  // sequentially): close() must release it when Spark ends the task
  // EARLY — a downstream limit, a foreachBatch throw, a killed
  // speculative attempt — or the fd leaks until the executor dies on
  // 'Too many open files' (review r5; the self-closing-on-exhaustion
  // iterator alone only covers fully-drained partitions)
  @volatile private var live: org.apache.parquet.hadoop.ParquetReader[
    Array[Any]] = null

  private def fileRows(f: DataFile, target: StructType): Iterator[Array[Any]] =
    new Iterator[Array[Any]] {
      private val reader = ParquetRowCodec.openReader(f.path, target, conf)
      live = reader
      private var v = reader.read()
      if (v == null) { reader.close(); live = null }
      override def hasNext: Boolean = v != null
      override def next(): Array[Any] = {
        val out = v
        v = reader.read()
        if (v == null) { reader.close(); live = null }
        out
      }
    }

  // before side: winning (url → lsn) keys always (≤1 winner per url by
  // the latest-state invariant, so a map IS the key set); full rows only
  // for CDF legs (read with the same pruned readTarget as the after side
  // — preimages only need the output's data columns). A throw mid-drain
  // must not leak the current file's reader.
  private val beforeLsn = new java.util.HashMap[UTF8String, java.lang.Long]()
  private val beforeRows: java.util.HashMap[UTF8String, Array[Any]] =
    if (cdf) new java.util.HashMap[UTF8String, Array[Any]]() else null
  locally {
    // layered non-CDF needs warc_ts for the in-map resolve ordering;
    // plain non-CDF keeps the narrow (url, _lsn) projection
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val url = StructField("url", StringType, nullable = false)
    val ts = StructField("warc_ts", TimestampType, nullable = false)
    val lsn = StructField(graft.core.Schemas.LsnCol, LongType)
    val target = if (cdf) readTarget
      else if (layeredBefore) StructType(Seq(url, ts, lsn))
      else StructType(Seq(url, lsn))
    val (u, t, l) =
      if (cdf) (urlIdx, tsIdx, lsnIdx)
      else if (layeredBefore) (0, 1, 2) else (0, 1, 1)
    try {
      val rows =
        if (layeredBefore) resolvedRows(p.before, target, u, t, l)
        else p.before.iterator.flatMap(fileRows(_, target))
      rows.foreach { v =>
        val url = v(u).asInstanceOf[UTF8String]
        beforeLsn.put(url, v(l).asInstanceOf[Long])
        if (cdf) beforeRows.put(url, v)
      }
    } catch { case t: Throwable => close(); throw t }
  }

  private def alive(v: Array[Any]): Boolean = v(opIdx) != D

  private val UpdPre = UTF8String.fromString("update_preimage")
  private val UpdPost = UTF8String.fromString("update_postimage")
  private val Ins = UTF8String.fromString("insert")
  private val Del = UTF8String.fromString("delete")

  /** One emitted row: `output`'s projection of a readTarget row, feed
    * columns generated (`changeType` null on the after-image path).
    */
  private def emit(v: Array[Any], changeType: UTF8String): InternalRow = {
    if (identityProj) return new GenericInternalRow(v)
    val out = new Array[Any](outProj.length)
    var i = 0
    while (i < outProj.length) {
      out(i) = outProj(i) match {
        case -1 => changeType
        case -2 => p.commitVersion
        case idx => v(idx)
      }
      i += 1
    }
    new GenericInternalRow(out)
  }

  private val rows: Iterator[InternalRow] = {
    val after =
      if (!layeredAfter) p.after.iterator.flatMap(fileRows(_, readTarget))
      else try
        // the after side's per-url winners: delta layers in the map,
        // base files streamed through the probe (superseded layer rows
        // never reach the diff)
        resolvedRows(p.after, readTarget, urlIdx, tsIdx, lsnIdx)
      catch { case t: Throwable => close(); throw t }
    val moved = after.filter { v =>
      val l = beforeLsn.get(v(urlIdx).asInstanceOf[UTF8String])
      l == null || l.longValue != v(lsnIdx).asInstanceOf[Long]
    }
    if (!cdf) moved.map(v => emit(v, null))
    else moved.flatMap { a =>
      val pre = beforeRows.get(a(urlIdx).asInstanceOf[UTF8String])
      val aliveA = alive(a)
      val aliveP = pre != null && alive(pre)
      if (aliveA && aliveP) // changed state on both sides: an update
        Iterator(emit(a, UpdPost), emit(pre, UpdPre))
      else if (aliveA) Iterator(emit(a, Ins)) // incl. undelete
      else if (aliveP) Iterator(emit(pre, Del)) // before image payload
      else Iterator.empty // tombstone-to-tombstone churn: no visible change
    }
  }

  private var current: InternalRow = null
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = {
    val r = live
    if (r != null) { live = null; r.close() }
  }
}

/** `format("graft-lake")` streaming SINK on the DSv2 surface
  * (`SupportsWrite` + `StreamingWrite`): any stream of change events
  * (the changelog source's `_lsn`/`_op` spelling or a producer's
  * `lsn`/`op`) applied through the engine's epoch-gated argmax merge.
  * Epoch = Spark batchId in this checkpoint's own gate namespace, so the
  * crash-replayed batch after a restart is a no-op — the foreachBatch
  * tail's exactly-once discipline, available to any `writeStream` user.
  *
  * Execution model: DSv2 hands the sink rows per PARTITION on executors,
  * but the merge is a whole-batch distributed plan — so DataWriters
  * STAGE their partitions as parquet under the query's own checkpoint
  * directory (`<checkpointLocation>/graft-staging/e<batchId>`), and
  * `commit(batchId, …)` runs the merge over exactly the committed
  * files, then deletes the stage (abort deletes it too; a crashed
  * driver's stage is overwritten by the replayed batchId). This is the
  * Iceberg streaming-write shape — writers produce files, the commit
  * publishes — with the publish step being the engine's argmax MERGE.
  * The staged bytes feed the merge's `batchBytesHint` for free, so a
  * table-sized catch-up batch takes the full-rewrite path without the
  * prune path's blocking stats probe.
  *
  * `option("truncateOnBatchZero", "true")` applies batch 0 as TRUNCATE:
  * set by [[ChangeFeed.replicateStream]], whose batch 0 is always the
  * changelog's `from = -1` full-snapshot bootstrap — so a fresh
  * checkpoint pointed at an EXISTING replica (the restart-after-
  * retention-breach flow) replaces state instead of silently merging
  * over replica-only rows (round-4 advice).
  */
final class GraftLakeSinkProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-lake sink: set .option(\"path\", <lake table dir>)"))
    val t = LakeTable.load(SparkSession.active, dir) // must exist
    t.schemaFor(t.currentSnapshot.schemaId)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftLakeWriteTable(schema, new CaseInsensitiveStringMap(properties))
}

private[cdc] final class GraftLakeWriteTable(schema0: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsWrite {

  override def name(): String = s"graft-lake:${options.get("path")}"

  override def schema(): StructType = schema0

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = {
          val dir = Option(options.get("path")).getOrElse(
            throw new IllegalArgumentException(
              "graft-lake sink: set .option(\"path\", <lake table dir>)"))
          val checkpoint = Option(options.get("checkpointLocation")).getOrElse(
            throw new IllegalArgumentException("graft-lake sink: " +
              "checkpointLocation is required — batchIds gate exactly-once " +
              "per checkpoint namespace"))
          new GraftLakeStreamingWrite(dir, info.schema(),
            CdcStream.gateKeyFor(checkpoint),
            Option(options.get("schemaVersion")).map(_.trim.toInt),
            Option(options.get("quarantineDir")),
            options.getBoolean("truncateOnBatchZero", false),
            s"$checkpoint/graft-staging")
        }
      }
    }
}

private[cdc] final case class StagedPartition(path: Option[String],
    rows: Long, bytes: Long) extends WriterCommitMessage

private[cdc] final class GraftLakeStreamingWrite(tableDir: String,
    writeSchema: StructType, gateKey: String, schemaVersion: Option[Int],
    quarantineDir: Option[String], truncateOnBatchZero: Boolean,
    stagingRoot: String) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new StageWriterFactory(stagingRoot, writeSchema.json,
      ParquetRowCodec.hadoopConfDelta(SparkSession.active))

  private def stageDir(epochId: Long) =
    new org.apache.hadoop.fs.Path(s"$stagingRoot/e$epochId")

  private def dropStage(epochId: Long): Unit = {
    val p = stageDir(epochId)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = messages.collect { case s: StagedPartition => s }
    val paths = staged.flatMap(_.path)
    val bytes = staged.map(_.bytes).sum
    var batch =
      if (paths.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        writeSchema)
      else spark.read.schema(writeSchema).parquet(paths.toSeq: _*)
    if (batch.columns.contains(graft.core.Schemas.LsnCol))
      batch = batch.withColumnRenamed(graft.core.Schemas.LsnCol, "lsn")
    if (batch.columns.contains(graft.core.Schemas.OpCol))
      batch = batch.withColumnRenamed(graft.core.Schemas.OpCol, "op")
    val table = LakeTable.load(spark, tableDir)
    // retrying: an offline compact/rebucket/rollback racing this sink's
    // commit must cost the loser a re-run, not fail the streaming query
    // (safe: epoch = batchId, and a lost race never records the gate)
    val stats = Merge.applyBatchRetrying(spark, table, batch, epoch = epochId,
      batchSchemaVersion =
        schemaVersion.getOrElse(table.currentSnapshot.schemaId),
      batchBytesHint = if (paths.isEmpty) None else Some(bytes),
      quarantineDir = quarantineDir,
      partitionLineage = true,
      gateKey = gateKey,
      truncate = truncateOnBatchZero && epochId == 0L)
    if (stats.applied) Metrics.append(tableDir, stats)
    dropStage(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropStage(epochId)

  override def toString: String = s"GraftLakeSink[$tableDir]"
}

private[cdc] final class StageWriterFactory(stagingRoot: String,
    schemaJson: String, hadoopConfDelta: Seq[(String, String)])
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new StageDataWriter(
      s"$stagingRoot/e$epochId/p$partitionId-t$taskId.parquet",
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      hadoopConfDelta)
}

/** Stages one partition's rows as one parquet file; the file path rides
  * the commit message, so files from failed/speculative attempts are
  * never read (the epoch stage dir is deleted wholesale after commit).
  * The writer opens lazily — an empty partition stages nothing.
  */
private[cdc] final class StageDataWriter(path: String, schema: StructType,
    hadoopConfDelta: Seq[(String, String)])
  extends DataWriter[InternalRow] {

  private val mt = ParquetRowCodec.messageTypeFor(schema)
  private lazy val conf = ParquetRowCodec.confFrom(hadoopConfDelta)
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = null
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (writer == null) writer = ParquetRowCodec.openWriter(path, mt, conf)
    writer.write(ParquetRowCodec.toGroup(row, schema, mt))
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer == null) return StagedPartition(None, 0L, 0L)
    writer.close()
    val p = new org.apache.hadoop.fs.Path(path)
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    StagedPartition(Some(path), rows, len)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).delete(p, false)
      ()
    }
  }

  override def close(): Unit = ()
}
