package graft.cdc

import org.apache.spark.sql.DataFrame
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** A batch's persisted key argmax and winners semi-join. Once passed to
  * [[Merge.applyBatch]] they are the merge's to unpersist.
  */
final case class Prepared(keys: DataFrame, winners: DataFrame)

/** Prepare-ahead for every CDC ingest path (replay, the streaming tail,
  * the lifecycle queries). Neither prepared scan reads the table, so
  * batch k+1's run in the background (`prefetch` scheduler pool) while
  * batch k resolves and writes.
  *
  * Batches are keyed by the caller (chunk index, epoch, predicted file
  * set); at most `lookAhead` are pending. Each ends exactly once: handed
  * over by [[take]] (a later background failure leaves it alone), or
  * released — unpersisted once its background job ends, since a job
  * already planned against the cache would persist it again. [[close]]
  * releases all still pending.
  *
  * Winners join sizing ([[Merge.winnersBroadcast]]) gets a lagged key
  * estimate: keys per input byte of the last applied batch times the next
  * batch's bytes. Before any batch has applied, the first prepared
  * batch's own key count stands in, so every prepared batch after the
  * first is estimated. The caller picks the byte unit, the same on both
  * sides.
  */
final class Prefetch[K](lookAhead: Int = 1) {
  import Prefetch._

  private var pending = Vector.empty[Entry[K]]
  private var keysPerByte: Option[Double] = None
  private var firstKeys: Option[(Future[Long], Long)] = None

  /** Start preparing `batch` (of `bytes` input bytes) in the background. */
  def prepare(key: K, batch: DataFrame, bytes: Long): Unit = synchronized {
    require(pending.size < lookAhead,
      s"prefetch look-ahead $lookAhead exceeded")
    val keyEstimate = estimate(bytes)
    val keys = Merge.prepareKeys(batch).persist()
    val winners = Merge.prepareWinners(batch, keys, keyEstimate).persist()
    val keyCount = Promise[Long]()
    val sc = batch.sparkSession.sparkContext
    val done = Future {
      sc.setLocalProperty("spark.scheduler.pool", "prefetch")
      try { keyCount.success(keys.count()); winners.count(); () }
      finally sc.setLocalProperty("spark.scheduler.pool", null)
    }
    val e = new Entry(key, Prepared(keys, winners), done)
    done.failed.foreach { t =>
      keyCount.tryFailure(t)
      if (e.state.get != Released) {
        Merge.prefetchFailures.incrementAndGet()
        System.err.println(s"[graft] prefetch of batch $key failed " +
          s"(${t.getClass.getSimpleName}: ${t.getMessage}) — it will " +
          "recompute on the critical path")
      }
      e.release()
    }
    if (firstKeys.isEmpty) firstKeys = Some((keyCount.future, bytes))
    pending :+= e
  }

  /** Hand over the prepared plans of batch `key`. If no pending batch has
    * that key the prediction did not come true and every pending batch is
    * released. None also when the batch's background job already failed:
    * the merge then recomputes on the critical path.
    */
  def take(key: K): Option[Prepared] = synchronized {
    val (hit, rest) = pending.partition(_.key == key)
    pending = if (hit.isEmpty) { rest.foreach(_.release()); Vector.empty }
      else rest
    hit.headOption.flatMap(_.handover())
  }

  /** Record an applied batch of `bytes` input bytes for the estimator. */
  def observe(stats: MergeStats, bytes: Long): Unit = synchronized {
    if (stats.applied && bytes > 0)
      keysPerByte = Some((stats.eventsIn - stats.conflicts).toDouble / bytes)
  }

  /** Release every batch still pending. */
  def close(): Unit = synchronized {
    pending.foreach(_.release())
    pending = Vector.empty
  }

  private def estimate(bytes: Long): Option[Long] =
    keysPerByte.orElse(firstKeys.collect { case (n, b) if b > 0 =>
      Await.ready(n, Duration.Inf).value.flatMap(_.toOption)
        .map(_.toDouble / b)
    }.flatten).map(r => math.ceil(r * bytes).toLong)
}

object Prefetch {
  private val Pending = 0
  private val HandedOver = 1
  private val Released = 2

  private final class Entry[K](val key: K, plans: Prepared, done: Future[Unit]) {
    val state = new AtomicInteger(Pending)

    def handover(): Option[Prepared] =
      if (done.value.exists(_.isFailure)) { release(); None }
      else if (state.compareAndSet(Pending, HandedOver)) {
        Merge.prefetchHits.incrementAndGet()
        Some(plans)
      } else None

    def release(): Unit =
      if (state.compareAndSet(Pending, Released)) {
        Merge.prefetchMisses.incrementAndGet()
        done.onComplete { _ =>
          plans.keys.unpersist(); plans.winners.unpersist()
        }
      }
  }

  /** The sequential ingest loop: merge `batches` in order, batch k+1
    * prepared in the background while batch k merges. The first batch is
    * merged unprepared: there is nothing to overlap it with. `bytes` gives
    * a batch's input bytes, `read` its frame; `merge` applies a batch with
    * its prepared plans, if any.
    */
  def pipelined[B](batches: Seq[B], bytes: B => Long, read: B => DataFrame)(
      merge: (B, Option[Prepared]) => MergeStats): Seq[MergeStats] = {
    val ahead = new Prefetch[Int]()
    try batches.indices.map { k =>
      val prepared = ahead.take(k)
      batches.lift(k + 1).foreach(b => ahead.prepare(k + 1, read(b), bytes(b)))
      val stats = merge(batches(k), prepared)
      ahead.observe(stats, bytes(batches(k)))
      stats
    } finally ahead.close()
  }
}
