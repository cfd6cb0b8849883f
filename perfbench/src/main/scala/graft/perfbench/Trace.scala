package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. `parent` is the id of the span that caused it
  * (0 = none); `op` is the benchmark operation it belongs to.
  */
final case class Span(id: Long, name: String, layer: String, startNs: Long,
    endNs: Long, parent: Long, op: Long, attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder. The benchmark wraps each call into an engine
  * layer in [[span]]; a SparkListener adds job spans (parented by the
  * `perfbench.span` local property the calling thread set) and a
  * StreamingQueryListener adds one span per trigger. Nothing is written
  * until [[dump]] at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val ops = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span, op)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val PropKey = "perfbench.span"

  /** Time `body` as one span of `layer`; a top-level span opens a new op. */
  def span[A](name: String, layer: String)(body: => A): A = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val outer = stack.get()
    val id = ids.incrementAndGet()
    val op = outer.headOption.map(_._2).getOrElse(ops.incrementAndGet())
    val prevProp = sc.getLocalProperty(PropKey)
    stack.set((id, op) :: outer)
    sc.setLocalProperty(PropKey, s"$id:$op")
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, layer, t0, System.nanoTime(),
        outer.headOption.map(_._1).getOrElse(0L), op))
      stack.set(outer)
      sc.setLocalProperty(PropKey, prevProp)
    }
  }

  // ---- Spark job spans and counters ----
  final class JobAcc(val startNs: Long, val parent: Long, val op: Long,
      val pool: String) {
    @volatile var tasks = 0L
    @volatile var runMs = 0L
    @volatile var gcMs = 0L
    @volatile var recordsRead = 0L
    @volatile var bytesRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var endNs = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  /** Jobs started while tracing was on, keyed by their parent span. */
  val finishedJobs = new ConcurrentLinkedQueue[(Long, JobAcc)]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      val (parent, op) = props.flatMap(p => Option(p.getProperty(PropKey)))
        .map { s => val a = s.split(':'); (a(0).toLong, a(1).toLong) }
        .getOrElse((0L, 0L))
      val pool = props.flatMap(p => Option(p.getProperty("spark.scheduler.pool")))
        .getOrElse("default")
      jobs.put(e.jobId, new JobAcc(System.nanoTime(), parent, op, pool))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      for (acc <- j; m <- Option(e.taskMetrics)) acc.synchronized {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.recordsRead += m.inputMetrics.recordsRead
        acc.bytesRead += m.inputMetrics.bytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { acc =>
        acc.endNs = System.nanoTime()
        spans.add(Span(ids.incrementAndGet(), "spark.job", Layers.SparkJob,
          acc.startNs, acc.endNs, acc.parent, acc.op,
          Map("tasks" -> acc.tasks.toDouble, "run_ms" -> acc.runMs.toDouble,
            "prefetch_pool" -> (if (acc.pool == "prefetch") 1.0 else 0.0))))
        finishedJobs.add((acc.parent, acc))
      }
  }

  // ---- Structured Streaming trigger spans ----
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      // CdcStream.tail names its query graft-tail-*; the replica's is unnamed
      val layer =
        if (Option(p.name).exists(_.startsWith("graft-tail"))) Layers.Tail
        else Layers.Replica
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val endNs = System.nanoTime()
      val trig = d.getOrElse("triggerExecution", 0.0)
      spans.add(Span(ids.incrementAndGet(), "trigger", layer,
        endNs - (trig * 1e6).toLong, endNs, 0L, 0L,
        d ++ Map("rows" -> p.numInputRows.toDouble)))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover.
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Trace.unionNs(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Write every span, one JSON object a line. */
  def dump(path: java.nio.file.Path): Unit = {
    val base = spans.asScala.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      (Seq(s""""id":${s.id}""", s""""name":"${s.name}"""",
        s""""layer":"${s.layer}"""",
        s""""start_ms":${Json.num((s.startNs - base) / 1e6)}""",
        s""""end_ms":${Json.num((s.endNs - base) / 1e6)}""",
        s""""parent":${s.parent}""", s""""op":${s.op}""") ++ attrs)
        .mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
