package graft.streaming

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

/**
 * Driver-memory stage boundary ≙ the reference's in-process dev adapter
 * (SimpleQueue over an in-memory dict when Redis isn't wired,
 * `stepist/flow/libs/simple_queue.py`): rows buffered on the driver, for
 * tests and small control-plane flows. Deliberately NOT a 100 TB data path
 * — [[write]] collects each batch into driver memory by design; bulk data
 * goes through [[ParquetBoundary]]. Second [[StageBoundary]] implementation
 * proving the SPI is pluggable (≙ the reference shipping Redis + RMQ + SQS
 * behind one ABC, `workers/worker_engine.py:5-35`).
 *
 * `limit`, if set, is the producer-side jobs_limit in rows: [[write]]
 * blocks while the buffer holds at least `limit` rows, until a consumer
 * [[flush]]es (≙ `adapters/simple_queue.py:24-29`).
 *
 * `unattachedTtlMs`: a [[readStream]] subscription whose query is NEVER
 * started (abandoned frame, error path) would otherwise be fed every
 * subsequent write forever — unobservable as dead, growing driver memory
 * unboundedly. A subscriber not seen inside any running query within this
 * TTL is dropped on the next write; start the query within the TTL (or
 * re-subscribe).
 */
final class InMemoryBoundary(schema: StructType, limit: Option[Long] = None,
                             unattachedTtlMs: Long = 600000L)
    extends StageBoundary {
  private val buf = mutable.ArrayBuffer.empty[Row] // guarded by this
  // every live streaming subscriber; each write feeds them all (a second
  // readStream must not silently detach the first query's feed). A
  // subscriber whose consuming query has TERMINATED is pruned on the next
  // write — otherwise a long-lived driver retains every subsequently
  // written row per dead consumer.
  private final class Sub(val stream: MemoryStream[Row]) {
    val born = System.nanoTime()
    var attached = false // ever observed inside a running query's sources
    @volatile var dead = false // its consuming query terminated (listener)
  }
  private val streams = mutable.ArrayBuffer.empty[Sub] // guarded by this
  // sessions we already watch -> the lifecycle listener registered on them
  // (guarded by this). WEAK keys + weak-ref values: a discarded session
  // (newSession per tenant/job on a long-lived driver) must not be pinned
  // by this boundary, and the listener is kept alive by the session's own
  // bus, not by this map.
  private val watched = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.WeakReference[
      org.apache.spark.sql.streaming.StreamingQueryListener]]()
  // active queries captured at start so termination can still reach their
  // sources (StreamingQueryManager.get returns null post-termination)
  private val activeWrappers =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, AnyRef]()

  override protected def jobsLimit: Option[Long] = limit

  /** Live streaming subscribers (post-prune); for tests/introspection.
    * Termination events arrive asynchronously, so a just-stopped query's
    * subscriber may linger until the event lands plus one write. */
  def subscriberCount: Int = synchronized { streams.count(!_.dead) }

  /** StreamExecution.sources is Scala-protected but JVM-public; the
    * reflective read keeps us off Spark's private internals surface.
    * Populated once the stream thread initializes, and it REMAINS readable
    * after termination — which is what lets the listener identify a dead
    * query's subscribers. A reflection failure (Spark-internal rename)
    * logs ONCE: it silently disables dead-subscriber pruning otherwise. */
  private def sourcesOf(q: AnyRef): Seq[AnyRef] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      try w.streamingQuery.getClass.getMethod("sources")
        .invoke(w.streamingQuery).asInstanceOf[Seq[AnyRef]]
      catch {
        case _: ReflectiveOperationException =>
          if (InMemoryBoundary.reflectionWarned.compareAndSet(false, true))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "StreamExecution.sources is not reflectively readable on this " +
                "Spark version; InMemoryBoundary dead-subscriber pruning is " +
                "DISABLED — dead consumers will accumulate buffered rows")
          Nil
      }
    case _ => Nil
  }

  /** Watch a session's query lifecycle (once per session): capture each
    * query's wrapper at start, and at termination mark every subscriber it
    * was reading as dead. This catches consumers that start AND finish
    * between two writes (e.g. a Trigger.AvailableNow drain), which no
    * poll-at-write scheme can observe. */
  private def ensureWatched(spark: SparkSession): Unit = synchronized {
    if (!watched.containsKey(spark)) {
      // the listener must not strongly capture the session (it sits in a
      // weak-keyed map whose value must not pin its key): weak self-ref
      val weakSession = new java.lang.ref.WeakReference(spark)
      val listener =
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = {
            val sess = weakSession.get()
            val q = if (sess == null) null else sess.streams.get(e.id)
            if (q != null) activeWrappers.put(e.id, q)
          }
          override def onQueryProgress(e: QueryProgressEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
            val q = activeWrappers.remove(e.id)
            if (q != null) {
              val gone = sourcesOf(q).toSet
              InMemoryBoundary.this.synchronized {
                streams.foreach(s => if (gone.contains(s.stream)) s.dead = true)
              }
            }
          }
        }
      watched.put(spark, new java.lang.ref.WeakReference(listener))
      spark.streams.addListener(listener)
    }
  }

  /** Tear the boundary down: deregister every session listener, forget
    * subscribers, drop buffered rows. A long-lived driver cycling many
    * boundaries must not accumulate listeners on its sessions. The
    * boundary stays usable afterwards (a later write/readStream re-arms
    * it), matching [[flush]]'s reusability contract. */
  def close(): Unit = synchronized {
    val it = watched.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val sess = e.getKey
      val l = if (e.getValue == null) null else e.getValue.get()
      if (sess != null && l != null) sess.streams.removeListener(l)
    }
    watched.clear()
    activeWrappers.clear()
    streams.clear()
    buf.clear()
  }

  /** Drop dead subscribers. Primary signal: the per-session listener in
    * [[ensureWatched]] (covers queries that came and went entirely
    * between writes). Fallback for queries started before the listener
    * existed: a stream once observed among a session's active sources and
    * no longer present there is dead. Liveness is judged against the
    * STREAM'S OWN session (the one [[readStream]] bound its DataFrame
    * to — `spark.streams` is per-session, so checking the writer's
    * session would wrongly prune a consumer on a cloned session).
    * Pruning is PERMANENT — matching queue semantics, a stopped
    * consumer's registration is gone; restarting a query over the same
    * pruned readStream frame yields a subscriber that receives nothing.
    * Call [[readStream]] again for a fresh subscription instead. */
  private def pruneDead(): Unit = {
    val cache = mutable.Map.empty[AnyRef, Set[AnyRef]]
    def liveFor(sess: org.apache.spark.sql.SparkSession): Set[AnyRef] =
      cache.getOrElseUpdate(sess,
        sess.streams.active.iterator.flatMap(sourcesOf).toSet)
    streams.foreach { s =>
      if (liveFor(s.stream.sparkSession).contains(s.stream)) s.attached = true
    }
    streams.filterInPlace { s =>
      !s.dead && {
        if (s.attached) liveFor(s.stream.sparkSession).contains(s.stream)
        // never observed in a running query: keep only within the TTL —
        // an abandoned subscription must not accumulate every future
        // write. Compare in ms: ttl * 1e6 would overflow for a
        // disable-the-TTL sentinel like Long.MaxValue
        else (System.nanoTime() - s.born) / 1000000L <= unattachedTtlMs
      }
    }
  }

  override protected def append(df: DataFrame): Unit = {
    val rows = df.collect().toIndexedSeq
    synchronized {
      pruneDead()
      buf ++= rows
      streams.foreach(s => if (!s.dead) s.stream.addData(rows))
    }
  }

  override def read(spark: SparkSession): DataFrame =
    spark.createDataFrame(synchronized(buf.toList).asJava, schema)

  /** Streaming view: everything enqueued so far plus all later writes.
    * Each call subscribes an independent consumer; all of them receive
    * every subsequent write. (Rows already handed to a stream are part of
    * its history — a later [[flush]] empties the queue but cannot retract
    * delivered batches, matching a queue consumer that already popped
    * them.) */
  override def readStream(spark: SparkSession): DataFrame = synchronized {
    ensureWatched(spark)
    pruneDead()
    implicit val enc = Encoders.row(schema)
    implicit val ctx = spark.sqlContext
    val s = MemoryStream[Row]
    if (buf.nonEmpty) s.addData(buf.toIndexedSeq)
    streams += new Sub(s)
    s.toDF()
  }

  override def jobsCount(spark: SparkSession): Long = synchronized(buf.size.toLong)

  override def flush(): Unit = synchronized { buf.clear() }
}

object InMemoryBoundary {
  // once per JVM, not per boundary: a sources-reflection failure is
  // Spark-version-wide, so one warning covers every boundary
  private val reflectionWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
}
