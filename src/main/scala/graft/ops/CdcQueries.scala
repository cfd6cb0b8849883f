package graft.ops

import graft.cdc.{Merge, Prefetch}
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable CDC end-to-end: treat the `events` table as a change
  * log keyed by user_id (event_id = LSN, ts = version time), split it into
  * three epochs, MERGE each into a fresh lake table, read the final state
  * back. The DuckDB oracle is the pure argmax the engine must converge to
  * — so the whole dedup + tombstone + multi-batch merge path is verified
  * by the driver, not only by our own tests.
  *
  * Mapping: url ← user_id, warc_ts ← ts, lsn ← event_id, text ← props;
  * op: 'error' events are deletes, the rest upserts (exercises tombstone
  * routing; reference analog W1+J5+K1,
  * /root/reference/project_setup/late_setup/extract_submission_files.R:93-112).
  */
object CdcQueries {

  import Tables.tbl

  private def lakeDir(tag: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-cdc-$tag-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.core.Fs.deleteRecursively(p)))
    p.toString
  }

  private lazy val mergeEventsDir: String = lakeDir("merge-events")
  private lazy val rowLevelDir: String = lakeDir("row-level")
  private lazy val replSrcDir: String = lakeDir("repl-src")
  private lazy val replDstDir: String = lakeDir("repl-dst")
  private lazy val replCkptDir: String = lakeDir("repl-ckpt")
  private lazy val cdfDir: String = lakeDir("cdf")
  private lazy val rebaseDir: String = lakeDir("rebase")
  private lazy val morDir: String = lakeDir("mor")
  private lazy val morNarrowDir: String = lakeDir("mor-narrow")

  /** Wiped per call (idempotent reruns in one session), deleted at exit. */
  private def fresh(dir: String): String = {
    graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    dir
  }

  private def freshMergeEventsDir: String = fresh(mergeEventsDir)

  /** Catalyst's size estimate of a batch: the merge's prune vs
    * full-rewrite hint and the prefetch estimator's unit.
    */
  private def sizeOf(batch: DataFrame): Long =
    batch.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong

  /** The lifecycle queries' epoch loop: merge `batches` at epochs 0, 1, …
    * with epoch k+1's keys and winners prepared while epoch k resolves and
    * writes ([[Prefetch.pipelined]]). `hinted` passes each batch's size
    * so a table-sized batch takes the full-rewrite path and runs its
    * lineage stats async; without it the prune path runs (the MoR
    * queries need it). `after(k)` runs once epoch k has committed.
    */
  private[graft] def mergeEpochs(s: SparkSession, t: LakeTable,
      batches: Seq[DataFrame], hinted: Boolean,
      after: Int => Unit = _ => ()): Unit =
    Prefetch.pipelined[(DataFrame, Int)](batches.zipWithIndex,
        b => sizeOf(b._1), _._1) { case ((batch, epoch), prepared) =>
      val stats = Merge.applyBatch(s, t, batch, epoch.toLong,
        batchSchemaVersion = 3,
        batchBytesHint = if (hinted) Some(sizeOf(batch)) else None,
        prepared = prepared)
      after(epoch)
      stats
    }

  private def asChangeLog(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events").select(
      col("event_id").as("lsn"),
      when(col("event_type") === "error", "D").otherwise("U").as("op"),
      concat(lit("user:"), col("user_id")).as("url"),
      col("ts").cast("timestamp").as("warc_ts"),
      lit(null).cast("binary").as("html"),
      col("props").as("text"),
      col("event_type").as("lang"),
      col("value").cast("long").as("content_len"),
      lit(3).as("schema_version"))

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "cdc_merge_events",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val maxLsn = log.agg(max("lsn")).head().getLong(0)
        val cut1 = maxLsn / 3
        val cut2 = 2 * maxLsn / 3
        // per-process temp location, wiped per invocation AND on JVM exit:
        // createTempDirectory would accrete one full lake table per
        // invocation across a bench/verify session (round-1 verdict
        // hygiene nit); the pid suffix keeps concurrent JVMs (driver
        // verify vs a local bench) from clobbering each other's table
        val tableDir = freshMergeEventsDir
        val t = LakeTable.create(s, tableDir, schemaId = 3, numBuckets = 8)
        val batches = Seq(
          log.filter(col("lsn") <= cut1),
          log.filter(col("lsn") > cut1 && col("lsn") <= cut2),
          log.filter(col("lsn") > cut2))
        // hinted: each third-of-the-log batch is table-sized, so the
        // merge takes the full-rewrite path and runs its lineage stats
        // ASYNC instead of paying the prune path's blocking stats barrier
        // (~1 s/batch here)
        mergeEpochs(s, t, batches, hinted = true)
        log.unpersist()
        t.readUser().select(
          col("url").as("user_key"),
          // back to NTZ for parquet/oracle parity (source ts is NTZ)
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("text").as("last_props"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"))
      },
      Some("""SELECT 'user:' || user_id AS user_key, ts AS last_ts,
             |       props AS last_props, event_type AS last_type,
             |       CAST(floor(value) AS BIGINT) AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // Row-level DELETE + UPDATE as CDC (the machinery behind SQL
    // `DELETE FROM` / `UPDATE` — graft.sql.GraftDeleteCommand /
    // GraftUpdateCommand run exactly these GraftWrites calls): merge the
    // full log, then delete every key whose current state is a 'click',
    // then double the value of every 'view'. The oracle applies the same
    // two statements to the pure-argmax state — so tombstone-delete
    // semantics, tie-winning banded LSNs, and in-place update all verify
    // against DuckDB end to end.
    QueryDef(
      "cdc_row_level",
      (s, dir) => {
        val log = asChangeLog(s, dir)
        val t = LakeTable.create(s, fresh(rowLevelDir), schemaId = 3,
          numBuckets = 8)
        Merge.applyBatch(s, t, log, 0L, batchSchemaVersion = 3,
          batchBytesHint = Some(sizeOf(log)))
        // DELETE FROM t WHERE lang = 'click'
        graft.sql.GraftWrites.applyAndLog(s, t,
          e => graft.sql.GraftWrites.toEvents(t,
            t.readUser().filter(col("lang") === "click")
              .select("url", "warc_ts"), e, op = "D"),
          graft.sql.GraftWrites.allocatedEpoch(s, t))
        // UPDATE t SET content_len = content_len * 2 WHERE lang = 'view'
        // (built AFTER the delete commits, so it reads post-delete state)
        graft.sql.GraftWrites.applyAndLog(s, t,
          e => graft.sql.GraftWrites.toEvents(t,
            t.readUser().filter(col("lang") === "view")
              .withColumn("content_len", col("content_len") * 2), e),
          graft.sql.GraftWrites.allocatedEpoch(s, t))
        t.readUser().select(
          col("url").as("user_key"),
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"))
      },
      Some("""WITH state AS (
             |  SELECT 'user:' || user_id AS user_key, ts AS last_ts,
             |         event_type AS last_type,
             |         CAST(floor(value) AS BIGINT) AS last_value
             |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |  WHERE rn = 1 AND event_type <> 'error')
             |SELECT user_key, last_ts, last_type,
             |       CASE WHEN last_type = 'view' THEN last_value * 2
             |            ELSE last_value END AS last_value
             |FROM state WHERE last_type <> 'click'""".stripMargin)),

    // Racing writers with OPTIMISTIC REBASE end to end
    // (LakeTable.commitDeltaRebasing): split the key population by lake
    // bucket — even buckets belong to the resident writer, odd buckets
    // to a rival that commits INSIDE the resident's race window
    // (Merge.beforeCommitHook, RebaseSpec's deterministic injector). The
    // resident loses the version race, proves from the manifest diff
    // that the rival left its buckets untouched, and REBASES its
    // already-written delta onto the head — one manifest rewrite, no
    // batch re-run. The query THROWS if the rebase didn't engage
    // (content convergence alone can't distinguish a rebase from a
    // silent full retry). Oracle: the pure argmax over the whole log —
    // disjoint-bucket writers commute.
    QueryDef(
      "cdc_rebase_race",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val withB = log.withColumn("_b", Merge.bucketOf(col("url"), 8))
        val outer = withB.filter(col("_b") % 2 === 0).drop("_b")
        val rival = withB.filter(col("_b") % 2 === 1).drop("_b")
        val t = LakeTable.create(s, fresh(rebaseDir), schemaId = 3,
          numBuckets = 8)
        val rebases0 = LakeTable.commitRebases.get()
        // both racers prepared up front, so the rival's scans overlap the
        // resident's pre-commit phase: the one look-ahead of 2
        val ahead = new Prefetch[Int](lookAhead = 2)
        val noop: () => Unit = () => ()
        try {
          ahead.prepare(0, outer, sizeOf(outer))
          ahead.prepare(1, rival, sizeOf(rival))
          Merge.beforeCommitHook = () => {
            Merge.beforeCommitHook = noop // the rival must not re-fire it
            Merge.applyBatch(s, t, rival, 1L, batchSchemaVersion = 3,
              prepared = ahead.take(1))
          }
          Merge.applyBatch(s, t, outer, 2L, batchSchemaVersion = 3,
            prepared = ahead.take(0))
        } finally {
          Merge.beforeCommitHook = noop
          ahead.close()
        }
        log.unpersist()
        require(LakeTable.commitRebases.get() > rebases0,
          "cdc_rebase_race: the disjoint race was not salvaged by rebase")
        t.readUser().select(
          col("url").as("user_key"),
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("text").as("last_props"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"))
      },
      Some("""SELECT 'user:' || user_id AS user_key, ts AS last_ts,
             |       props AS last_props, event_type AS last_type,
             |       CAST(floor(value) AS BIGINT) AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // MERGE-ON-READ end to end: the same three-epoch merge as
    // cdc_merge_events, but under `write-mode = mor` — each epoch appends
    // per-bucket DELTA layers (no hint, so the prune path runs and MoR
    // engages) instead of rewriting its touched buckets, and the final
    // read resolves the layer stack latest-wins (LakeTable.resolveLatest).
    // The query THROWS if no delta layer exists at read time (a silent
    // CoW fallback would still pass the oracle), so the driver's green
    // row pins BOTH the O(batch) write shape and the read-side
    // resolution against the pure-argmax DuckDB oracle.
    QueryDef(
      "cdc_mor_merge",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val maxLsn = log.agg(max("lsn")).head().getLong(0)
        val cut1 = maxLsn / 3
        val cut2 = 2 * maxLsn / 3
        val t = LakeTable.create(s, fresh(morDir), schemaId = 3,
          numBuckets = 8)
        t.updateProperties(Map("write-mode" -> "mor"))
        val batches = Seq(
          log.filter(col("lsn") <= cut1),
          log.filter(col("lsn") > cut1 && col("lsn") <= cut2),
          log.filter(col("lsn") > cut2))
        // unhinted: the prune path, the only one that writes MoR layers
        mergeEpochs(s, t, batches, hinted = false)
        log.unpersist()
        require(t.currentSnapshot.files.exists(_.delta),
          "cdc_mor_merge: no delta layers — merge-on-read did not engage")
        t.readUser().select(
          col("url").as("user_key"),
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("text").as("last_props"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"))
      },
      Some("""SELECT 'user:' || user_id AS user_key, ts AS last_ts,
             |       props AS last_props, event_type AS last_type,
             |       CAST(floor(value) AS BIGINT) AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // NARROW read over the layered MoR table: two epochs leave delta
    // layers, then a 2-column projection is returned. Round-6: the
    // layered resolve runs bucket-LOCAL through the GraftBucketScan task
    // form (no groupBy(url) exchange), with column pruning at the scan.
    // The query THROWS unless (a) the plan's resolve scan was pruned to
    // EXACTLY the asked-for columns (url, lang, _op — never html/text/
    // content_len, the payload bytes the pruning exists to skip), and
    // (b) the physical plan contains NO exchange at all — so the
    // driver's green row pins BOTH the shuffle-free pruned plan shape
    // and its result against the narrow DuckDB argmax oracle.
    QueryDef(
      "cdc_mor_narrow",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val maxLsn = log.agg(max("lsn")).head().getLong(0)
        val t = LakeTable.create(s, fresh(morNarrowDir), schemaId = 3,
          numBuckets = 8)
        t.updateProperties(Map("write-mode" -> "mor"))
        val batches = Seq(log.filter(col("lsn") <= maxLsn / 2),
          log.filter(col("lsn") > maxLsn / 2))
        mergeEpochs(s, t, batches, hinted = false)
        log.unpersist()
        require(t.currentSnapshot.files.exists(_.delta),
          "cdc_mor_narrow: no delta layers — merge-on-read did not engage")
        val narrow = t.readUser().select(
          col("url").as("user_key"), col("lang").as("last_type"))
        val scanCols = narrow.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
              if r.scan.description().startsWith("GraftBucketScan") =>
            r.scan.readSchema().fieldNames.toSet
        }
        require(scanCols.nonEmpty,
          "cdc_mor_narrow: no bucket-local resolve scan in the plan — " +
            "nothing was layered")
        require(scanCols.forall(_ == Set("url", "lang", graft.core.Schemas.OpCol)),
          s"cdc_mor_narrow: resolve scan not pruned to exactly " +
            s"(url, lang, _op) — got $scanCols")
        require(!narrow.queryExecution.executedPlan.toString.contains("Exchange"),
          "cdc_mor_narrow: the narrow MoR read plans an exchange — the " +
            "bucket-local resolve did not engage")
        narrow
      },
      Some("""SELECT 'user:' || user_id AS user_key, event_type AS last_type
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // Lake-to-lake STREAMING replication end to end: merge two-thirds of
    // the log into a source table, drain it through one Structured
    // Streaming query (readStream graft-changelog -> writeStream
    // graft-lake; the first batch is the full-snapshot bootstrap), land
    // the last third on the source, drain the SAME checkpoint again (the
    // incremental delta resumes from Spark's offset log), and return the
    // REPLICA's state. The oracle is the same pure argmax as
    // cdc_merge_events — the replica must converge to exactly the source's
    // final table, through the streaming source's version-range offsets
    // and the sink's per-checkpoint batchId gate.
    QueryDef(
      "cdc_replicate_stream",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val maxLsn = log.agg(max("lsn")).head().getLong(0)
        val cut = 2 * maxLsn / 3
        val srcDir = fresh(replSrcDir)
        val dstDir = fresh(replDstDir)
        val ckpt = fresh(replCkptDir)
        val t = LakeTable.create(s, srcDir, schemaId = 3, numBuckets = 8)
        val batches = Seq(log.filter(col("lsn") <= cut),
          log.filter(col("lsn") > cut))
        // after each epoch, drain the SAME checkpoint: drain 1 is the
        // full-snapshot bootstrap, drain 2 the incremental delta. Epoch
        // 1's prepared scans overlap drain 1's whole micro-batch.
        mergeEpochs(s, t, batches, hinted = true, after = _ =>
          graft.cdc.ChangeFeed.replicateStream(s, srcDir, dstDir, ckpt)
            .awaitTermination())
        log.unpersist()
        LakeTable.load(s, dstDir).readUser().select(
          col("url").as("user_key"),
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("text").as("last_props"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"))
      },
      Some("""SELECT 'user:' || user_id AS user_key, ts AS last_ts,
             |       props AS last_props, event_type AS last_type,
             |       CAST(floor(value) AS BIGINT) AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // Change-data-feed with BEFORE images (changesBetweenCdf — the
    // Delta/Iceberg CDF shape): replay the 3-epoch log, then read the
    // LAST epoch's cdf delta. The oracle computes the argmax state after
    // epochs 0-1 and after 0-2 and classifies every key whose winner
    // moved: update_preimage/update_postimage pairs, inserts (incl.
    // undeletes), deletes carrying the BEFORE payload — so the before-
    // image semantics (what a derived-aggregate maintainer retracts)
    // verify against DuckDB end to end.
    QueryDef(
      "cdc_cdf",
      (s, dir) => {
        val log = asChangeLog(s, dir).cache()
        val maxLsn = log.agg(max("lsn")).head().getLong(0)
        val cut1 = maxLsn / 3
        val cut2 = 2 * maxLsn / 3
        val t = LakeTable.create(s, fresh(cdfDir), schemaId = 3,
          numBuckets = 8)
        val batches = Seq(
          log.filter(col("lsn") <= cut1),
          log.filter(col("lsn") > cut1 && col("lsn") <= cut2),
          log.filter(col("lsn") > cut2))
        mergeEpochs(s, t, batches, hinted = true)
        log.unpersist()
        t.changesBetweenCdf(2, 3).select(
          col("url").as("user_key"),
          col("warc_ts").cast("timestamp_ntz").as("last_ts"),
          col("text").as("last_props"),
          col("lang").as("last_type"),
          col("content_len").as("last_value"),
          col("_change_type").as("change_type"),
          col("_lsn").as("lsn"))
      },
      // s2 = argmax state after epochs 0-1 (lsn <= 2*max/3, integer
      // division), s3 = after all epochs; classify winners that moved.
      Some("""WITH ev AS (
             |  SELECT event_id AS lsn,
             |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             |         'user:' || user_id AS url, ts, props, event_type,
             |         CAST(floor(value) AS BIGINT) AS value
             |  FROM events),
             |cut AS (SELECT (2 * max(lsn)) // 3 AS c FROM ev),
             |s2 AS (SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY url
             |      ORDER BY ts DESC, lsn DESC) AS rn
             |    FROM ev WHERE lsn <= (SELECT c FROM cut)) WHERE rn = 1),
             |s3 AS (SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY url
             |      ORDER BY ts DESC, lsn DESC) AS rn FROM ev) WHERE rn = 1),
             |moved AS (
             |  SELECT s3.url AS url, s3.op AS op3, s3.ts AS ts3,
             |         s3.props AS p3, s3.event_type AS et3, s3.value AS v3,
             |         s3.lsn AS l3, s2.op AS op2, s2.ts AS ts2,
             |         s2.props AS p2, s2.event_type AS et2, s2.value AS v2,
             |         s2.lsn AS l2
             |  FROM s3 LEFT JOIN s2 ON s3.url = s2.url
             |  WHERE s2.lsn IS DISTINCT FROM s3.lsn)
             |SELECT url AS user_key, ts3 AS last_ts, p3 AS last_props,
             |       et3 AS last_type, v3 AS last_value,
             |       CASE WHEN op2 = 'U' THEN 'update_postimage'
             |            ELSE 'insert' END AS change_type, l3 AS lsn
             |FROM moved WHERE op3 = 'U'
             |UNION ALL
             |SELECT url, ts2, p2, et2, v2, 'update_preimage', l2
             |FROM moved WHERE op3 = 'U' AND op2 = 'U'
             |UNION ALL
             |SELECT url, ts2, p2, et2, v2, 'delete', l2
             |FROM moved WHERE op3 = 'D' AND op2 = 'U'""".stripMargin))
  )
}
