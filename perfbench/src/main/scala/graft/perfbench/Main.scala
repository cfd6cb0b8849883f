package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, `local[nproc]`, one workload.
  *
  * {{{
  *   Main --workload churn --seed 1 --seconds 40 --trace 0 \
  *        --work <work dir> --out <span dir>
  * }}}
  *
  * Prints a line of sample counts and host figures, then, as the last
  * line of standard output, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The caller
  * deletes the work directory on every exit path.
  */
object Main {

  /** end-to-end metric → unit; each reports the median of its samples */
  private val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ingest_events_per_s" -> "events/s",
    "tail_lag_p50_s" -> "s",
    "replica_lag_p50_s" -> "s",
    "upsert_p50_s" -> "s",
    "scan_p50_s" -> "s",
    "count_p50_s" -> "s",
    "point_p50_s" -> "s",
    "changes_p50_s" -> "s",
    "compact_s" -> "s",
    "storage_amp" -> "ratio")

  def main(args: Array[String]): Unit = {
    val jvmStartNs = System.nanoTime() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val shape = Shape.all.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; " +
        s"known: ${Shape.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val host = Host.probe()
    var result: Option[String] = None
    Files.createDirectories(work)
    locally {
      val spark = SparkSession.builder().master(s"local[$cores]")
        .appName(s"perfbench-${shape.name}")
        .withExtensions(new graft.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      System.err.println(f"[perfbench] Spark up at ${(System.nanoTime() - jvmStartNs) / 1e9}%.1f s")
      try result = Some(run(spark, shape, seed, seconds, trace, work, out, host, jvmStartNs))
      finally {
        val t0 = System.nanoTime()
        spark.stop()
        System.err.println(f"[perfbench] Spark stopped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
    System.err.println(f"[perfbench] JVM ran ${(System.nanoTime() - jvmStartNs) / 1e9}%.1f s")
    result.foreach(println)
  }

  private def run(spark: SparkSession, shape: Shape, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, host: Map[String, Double],
      jvmStartNs: Long): String = {
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val w = new Workload(spark, shape, seed, work, tracer)
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      System.err.println(f"[perfbench] $name took ${(System.nanoTime() - t0) / 1e9}%.1f s" +
        f" (at ${(System.nanoTime() - jvmStartNs) / 1e9}%.1f s)")
      a
    }
    tracer.enabled = trace
    val in = phase("set-up")(w.setup())
    tracer.enabled = false
    val ref = phase("reference")(w.referenceBelow(in, w.Events))
    val mor = phase("mor bootstrap")(new w.Mor(in))

    // The stream phase spends about a third of the budget on steady arrivals.
    val steady = math.min(w.Chunks - w.Backlog,
      math.max(2, (seconds * 1000L / (3 * w.LandEveryMs)).toInt))
    val overheads = ArrayBuffer[Double]()
    var untracedS = 0.0 // the untraced neighbours' walls, left out of spark.busy_frac
    // Host speed drifts over tens of seconds, so replay passes and MoR
    // rounds alternate, with the stream phase after the first cycle: each
    // metric averages several load windows. The number of cycles follows
    // from the budget alone, so that every run samples the same table
    // states.
    val cycles = math.max(2, seconds / 10)
    require(cycles * w.RoundsPerCycle <= mor.rounds,
      s"$seconds s needs more MoR rounds than the log holds")
    tracer.enabled = trace
    val measure0 = System.nanoTime()
    (0 until cycles).foreach { cycle =>
      phase("replay") {
        if (trace) {
          // a traced pass between two untraced neighbours gives the
          // tracing cost at the same host speed and JIT state
          def neighbour(): Double = {
            tracer.enabled = false
            w.recording = false
            try w.replayPass(in, ref) finally { tracer.enabled = true; w.recording = true }
          }
          val before = neighbour()
          val traced = w.replayPass(in, ref)
          val after = neighbour()
          overheads += traced / ((before + after) / 2) - 1.0
          untracedS += before + after
        } else w.replayPass(in, ref)
      }
      phase("mor")((0 until w.RoundsPerCycle).foreach(_ => mor.round()))
      if (cycle == 0) phase("stream")(w.stream(in, steady))
    }
    val tracedS = (System.nanoTime() - measure0) / 1e9 - untracedS
    phase("final checks")(mor.finish())
    if (overheads.nonEmpty) w.values("trace.overhead_frac") = Stats.median(overheads.toSeq)
    tracer.enabled = false
    if (trace) tracer.uninstall()

    val p50 = (k: String) => Stats.median(w.samples(k).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (name, unit) => (name, p50(name), unit) }
      else perLayer(w, tracer, tracedS, host, spark.sparkContext.defaultParallelism)

    if (trace) {
      val tag = s"${shape.name}-seed${seed}"
      tracer.dump(out.resolve(s"spans-$tag.jsonl"))
      Files.writeString(out.resolve(s"self-time-$tag.json"),
        tracer.selfTimeByLayer().toSeq.sortBy(-_._2)
          .map { case (l, s) => s""""$l":${Json.num(s)}""" }.mkString("{", ",", "}\n"))
    }
    w.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    w.samples.foreach { case (k, v) =>
      System.err.println(s"[perfbench] $k: ${v.map(x => f"$x%.4g").mkString(" ")}") }
    val counts = w.samples.map { case (k, v) => s""""$k":${v.size}""" }.mkString(",")
    val hostJs = host.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    println(s"""{"samples":{$counts},"host":{$hostJs},"replay_prune_frac":${Json.num(w.values.getOrElse("replay.prune_frac", -1.0))}}""")
    val ms = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val correct = w.failed == 0 && metrics.forall(m => !m._2.isNaN)
    s"""{"correct":$correct,"attempted":${w.attempted},"failed":${math.min(w.failed, w.attempted)},"metrics":{$ms}}"""
  }

  private def perLayer(w: Workload, tracer: Tracer, tracedS: Double,
      host: Map[String, Double], cores: Int): Seq[(String, Double, String)] = {
    val s = w.samples
    def p(k: String, q: Double = 0.5): Double =
      s.get(k).filter(_.nonEmpty).map(x => Stats.quantile(x.toSeq, q)).getOrElse(0.0)
    def total(k: String): Double = s.get(k).map(_.sum).getOrElse(0.0)
    def v(k: String): Double = w.values.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val jobs = tracer.finishedJobs.asScala.toSeq
    val spans = tracer.spans.asScala.toSeq
    val byId = spans.map(x => x.id -> x).toMap
    def jobsUnder(name: String) =
      jobs.filter { case (parent, _) => byId.get(parent).exists(_.name == name) }.map(_._2)
    def recordsPerRow(name: String) =
      ratio(jobsUnder(name).map(_.recordsRead).sum.toDouble, total(s"$name.rows"))
    val runMs = jobs.map(_._2.runMs).sum.toDouble
    val self = tracer.selfTimeByLayer()
    val heapPeakMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    Seq(
      ("replay.batch_ms_p50", p("replay.batch_ms"), "ms"),
      ("replay.first_batch_ms", p("replay.first_batch_ms"), "ms"),
      ("replay.prefetch_busy_s", p("replay.prefetch_busy_s"), "s"),
      ("replay.critical_busy_s", p("replay.critical_busy_s"), "s"),
      ("replay.prune_frac", v("replay.prune_frac"), "ratio"),
      ("merge.rows_written_per_event", ratio(total("merge.rows_written"), total("merge.events")), "ratio"),
      ("merge.touched_buckets_p50", p("merge.touched_buckets"), "count"),
      ("merge.conflicts_frac", ratio(total("merge.conflicts"), total("merge.events")), "ratio"),
      ("merge.commit_races_lost", graft.cdc.Merge.commitRacesLost.get.toDouble, "count"),
      ("tail.catchup_events_per_s", p("catchup_events_per_s"), "events/s"),
      ("tail.trigger_ms_p50", p("tail.trigger_ms"), "ms"),
      ("tail.addbatch_ms_p50", p("tail.addbatch_ms"), "ms"),
      ("tail.framework_ms_p50", p("tail.framework_ms"), "ms"),
      ("tail.triggers", v("tail.triggers"), "count"),
      ("tail.backlog_files_max", v("tail.backlog_files_max"), "count"),
      ("replica.trigger_ms_p50", p("replica.trigger_ms"), "ms"),
      ("replica.framework_ms_p50", p("replica.framework_ms"), "ms"),
      ("replica.triggers", v("replica.triggers"), "count"),
      ("replica.versions_behind_max", v("replica.versions_behind_max"), "count"),
      ("lake.snapshot_load_ms_p50", p("lake.snapshot_load_ms"), "ms"),
      ("lake.versions", v("lake.versions"), "count"),
      ("lake.files_live", v("lake.files_live"), "count"),
      ("lake.delta_files_max", v("lake.delta_files_max"), "count"),
      ("lake.bytes_written_per_upsert", p("lake.bytes_written_per_upsert"), "bytes"),
      ("scan.records_read_per_row", recordsPerRow("scan"), "ratio"),
      ("count.records_read_per_row", recordsPerRow("count"), "ratio"),
      ("changes.records_read_per_row", recordsPerRow("changes"), "ratio"),
      ("scan.bytes_read", ratio(jobsUnder("scan").map(_.bytesRead).sum.toDouble,
        s.get("scan_p50_s").map(_.size.toDouble).getOrElse(0.0)), "bytes"),
      ("point.files_read_p50", p("point.files_read"), "count"),
      ("point_p90_s", p("point_p50_s", 0.9), "s"),
      ("compact.bytes_rewritten", p("compact.bytes_rewritten"), "bytes"),
      ("compact.files_before", v("compact.files_before"), "count"),
      ("compact.files_after", v("compact.files_after"), "count"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.tasks", jobs.map(_._2.tasks).sum.toDouble, "count"),
      ("spark.busy_frac", ratio(runMs, tracedS * 1000 * cores), "ratio"),
      ("spark.gc_frac", ratio(jobs.map(_._2.gcMs).sum.toDouble, runMs), "ratio"),
      ("spark.shuffle_write_bytes", jobs.map(_._2.shuffleWrite).sum.toDouble, "bytes"),
      ("spark.input_bytes", jobs.map(_._2.bytesRead).sum.toDouble, "bytes"),
      ("gen.late_ms_max", v("gen.late_ms_max"), "ms"),
      ("host.loadavg", host("loadavg"), "count"),
      ("host.spin_gops", host("spin_gops"), "1/ns"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_frac", v("trace.overhead_frac"), "ratio")) ++
      Layers.all.map(l => (s"self_s.$l", self.getOrElse(l, 0.0), "s"))
  }
}

/** Host load at the start of a run, so that a run taken while another
  * tenant loaded the machine can be recognised.
  */
object Host {
  def probe(): Map[String, Double] = {
    val load = scala.util.Try(
      Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble)
      .getOrElse(-1.0)
    // single-thread integer spin for ~200 ms: billions of loop steps per second
    var x = 1L
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L) {
      var i = 0
      while (i < 100000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      n += 100000
    }
    val gops = n / ((System.nanoTime() - t0).toDouble) + (if (x == 42) 1e-9 else 0.0)
    Map("loadavg" -> load, "spin_gops" -> gops)
  }
}
