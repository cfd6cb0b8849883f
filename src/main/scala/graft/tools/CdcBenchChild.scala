package graft.tools

import graft.cdc.{CdcStream, Metrics}
import graft.lake.LakeTable
import org.apache.spark.sql.SparkSession

/** One CDC measurement in a clean JVM (spawned by Bench): JIT code cache
  * and metaspace pollution from other parallelism levels would otherwise
  * skew per-level timings. Prints `CDC_EPS <events/sec>` on stdout.
  *
  * args: <cpus> <logDir> <nEvents> [mode] [maxChunks]; mode `replay`
  * (default) drives [[CdcStream.replayChunks]] (pipelined prefetch),
  * `tail` drives the Structured Streaming file-source tail end to end
  * (checkpointed foreachBatch; Spark owns batching, so the next batch is
  * prefetched speculatively from its predicted file set). maxChunks limits the replay to a prefix of the log (the
  * scaling-efficiency pairs use a shorter prefix to afford more
  * interleaved repetitions against hypervisor noise).
  */
object CdcBenchChild {
  def main(args: Array[String]): Unit = {
    val cpus = args(0).toInt
    val logDir = args(1)
    val nEvents = args(2).toLong
    val mode = if (args.length > 3) args(3) else "replay"
    val maxChunks = if (args.length > 4) args(4).toInt else Int.MaxValue
    // this child's scratch tables/checkpoints are GBs each; clean them on
    // exit or interleaved repetitions fill the disk (parent cleans the
    // shared log)
    val scratch = scala.collection.mutable.ListBuffer[String]()
    def tmp(prefix: String): String = {
      val d = java.nio.file.Files.createTempDirectory(prefix).toString
      scratch += d
      d
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratch.foreach(d =>
        graft.core.Fs.deleteRecursively(java.nio.file.Paths.get(d)))))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"cdc-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE off for the CDC hot path: the merge plan has fixed, known
      // shapes per micro-batch (explicit repartition widths, broadcast
      // hints, map-side combines), so runtime re-planning buys nothing
      // and its per-stage driver barriers cost the 8-core level ~7%
      // wall (measured). Ad-hoc queries keep AQE on (Bench main session).
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "false"))
      // lake-write parquet codec A/B knob (default = Spark's snappy);
      // affects only the merge's data-file writes — the input log stays
      // whatever the generator wrote
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: a FULL replay. JIT compilation is a roughly constant
    // cost per JVM; a partial warmup leaves the remainder inside the timed
    // run, where it weighs 3× more at 8 cores (12s run) than at 2 cores
    // (38s run) and systematically depresses the measured scaling ratio.
    val nb = sys.env.getOrElse("GRAFT_BUCKETS", "32").toInt
    // the streaming source reads the part files INSIDE the chunk dirs;
    // 32 files per trigger ≈ one 4M-event chunk per micro-batch
    def runTail(tableDir: String): Unit =
      CdcStream.tailAll(spark, s"$logDir/*", tableDir,
        tmp(s"cdcb-ck-$cpus"), maxFilesPerTrigger = 32)
    def run(tableDir: String): Seq[graft.cdc.MergeStats] =
      if (mode == "tail") { runTail(tableDir); Metrics.read(tableDir) }
      else CdcStream.replayChunks(spark, logDir, tableDir, maxChunks)
    val warmDir = tmp(s"cdcb-warm-$cpus")
    LakeTable.create(spark, warmDir, schemaId = 3, numBuckets = nb)
    run(warmDir)
    // timed replay into a fresh table. CDC_EPS = total events / total
    // replay wall — everything included. Per-batch (or steady-state-only)
    // bases became dishonest once the winners scan of batch k+1 started
    // overlapping batch k: how much of a batch's scan lands inside its
    // predecessor's wall varies run to run, so excluding ANY batch shifts
    // a random amount of real work out of the denominator (observed: it
    // inflated the 2-core level by ~35% on a lucky alignment and wrecked
    // the N→4N ratio). Total wall is alignment-invariant. The steady-state
    // number (cold first batch dropped — a continuous tail amortizes it)
    // is still printed as CDC_EPS_SUSTAINED for context.
    val tableDir = tmp(s"cdcb-table-$cpus")
    LakeTable.create(spark, tableDir, schemaId = 3, numBuckets = nb)
    val t0 = System.nanoTime()
    val stats = run(tableDir)
    val totalWallS = (System.nanoTime() - t0) / 1e9
    val applied = stats.filter(_.applied)
    val steady = if (applied.size > 1) applied.drop(1) else applied
    val sustained = steady.map(_.eventsIn).sum * 1000.0 /
      math.max(1, steady.map(_.wallMs).sum)
    println(s"CDC_BATCHES ${stats.map(_.wallMs).mkString(",")}")
    // actual replayed volume: replay size is controlled by maxChunks, so
    // the parent must not label the run with its own nEvents guess
    // (round-1 advice: mislabeled efficiency_pair_events when the env
    // budget is not a chunk multiple)
    println(s"CDC_EVENTS_APPLIED ${applied.map(_.eventsIn).sum}")
    println(s"CDC_EPS_SUSTAINED ${"%.0f".format(sustained)}")
    println(f"CDC_EPS ${applied.map(_.eventsIn).sum / totalWallS}%.0f")
    spark.stop()
  }
}
