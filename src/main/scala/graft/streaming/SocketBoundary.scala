package graft.streaming

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.StructType

/**
 * Line-protocol queue broker for [[SocketBoundary]] — the wire service
 * the sandbox lacks (≙ the Redis server behind the reference's list
 * adapter, `stepist/flow/libs/simple_queue.py:49-51`: LPUSH/BRPOP of
 * JSON payloads). One UTF-8 line per message; payloads are Spark
 * `toJSON` rows, which never contain newlines.
 *
 * COMMAND port (request/response, one line each way):
 *   - `PUSH <payload>` → `OK <depth>` — append, fan out to subscribers
 *   - `COUNT` → `OK <depth>`
 *   - `PEEK`  → `OK <n>` then n payload lines (non-destructive)
 *   - `DRAIN` → `OK <n>` then n payload lines, consuming them (≙ BRPOP
 *     consume-on-read)
 *   - `FLUSH` → `OK 0` — drop everything (≙ flush_queue)
 *
 * SUBSCRIBE port: any connection immediately receives the current
 * backlog and then every subsequent push, as raw payload lines — exactly
 * the shape Spark's built-in `socket` streaming source reads, so the
 * worker side needs no custom source. Backlog-then-live ordering is
 * exact (both run under the queue lock): a subscriber never misses or
 * double-receives a message.
 *
 * Port 0 binds ephemeral ports; read them back via [[commandPort]] /
 * [[subscribePort]]. Dev-grade by design, like the reference adapter:
 * in-heap queue, no persistence, at-most-once to subscribers.
 */
final class SocketQueueServer(commandPort0: Int = 0, subscribePort0: Int = 0)
    extends AutoCloseable {

  private val lock = new Object
  private val queue = new java.util.ArrayDeque[String]() // guarded by lock
  private val subs =
    scala.collection.mutable.ArrayBuffer.empty[PrintWriter] // guarded by lock
  @volatile private var closed = false

  private val cmdServer = new ServerSocket(commandPort0)
  private val subServer = new ServerSocket(subscribePort0)
  def commandPort: Int = cmdServer.getLocalPort
  def subscribePort: Int = subServer.getLocalPort

  private def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  // an accept loop must not busy-spin on a PERSISTENT failure (e.g.
  // EMFILE): stop once the server socket itself is dead, back off briefly
  // on a transient error while it is still healthy
  daemon("socket-queue-cmd-accept") {
    while (!closed && !cmdServer.isClosed)
      try {
        val s = cmdServer.accept()
        daemon(s"socket-queue-cmd-${s.getPort}")(handleCommands(s))
      } catch {
        case _: java.io.IOException if closed || cmdServer.isClosed =>
        case _: java.io.IOException => Thread.sleep(100)
      }
  }

  daemon("socket-queue-sub-accept") {
    while (!closed && !subServer.isClosed)
      try {
        val s = subServer.accept()
        val w = new PrintWriter(
          new java.io.OutputStreamWriter(s.getOutputStream, UTF_8), true)
        lock.synchronized {
          queue.forEach(w.println(_)) // backlog first, then live pushes
          subs += w
        }
      } catch {
        case _: java.io.IOException if closed || subServer.isClosed =>
        case _: java.io.IOException => Thread.sleep(100)
      }
  }

  private def handleCommands(s: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8))
    val out = new PrintWriter(
      new java.io.OutputStreamWriter(s.getOutputStream, UTF_8), true)
    try {
      var line = in.readLine()
      while (line != null) {
        line match {
          case p if p.startsWith("PUSH ") =>
            val payload = p.substring(5)
            lock.synchronized {
              queue.add(payload)
              // a dead subscriber's println sets the writer's error flag;
              // prune it so the broker never blocks on a gone consumer
              subs.filterInPlace { w => w.println(payload); !w.checkError() }
              out.println(s"OK ${queue.size}")
            }
          case "COUNT" =>
            out.println(s"OK ${lock.synchronized(queue.size)}")
          case "PEEK" =>
            lock.synchronized {
              out.println(s"OK ${queue.size}")
              queue.forEach(out.println(_))
            }
          case "DRAIN" =>
            lock.synchronized {
              out.println(s"OK ${queue.size}")
              while (!queue.isEmpty) out.println(queue.poll())
            }
          case "FLUSH" =>
            lock.synchronized(queue.clear())
            out.println("OK 0")
          case other =>
            out.println(s"ERR unknown command: $other")
        }
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => /* client went away */ }
    finally s.close()
  }

  override def close(): Unit = {
    closed = true
    cmdServer.close()
    subServer.close()
    lock.synchronized(subs.clear())
  }
}

/**
 * Wire-backed stage boundary: rows travel over a TCP line protocol, not
 * the filesystem — the third [[StageBoundary]] transport (files =
 * [[ParquetBoundary]], heap = [[InMemoryBoundary]], wire = this),
 * proving the SPI is transport-agnostic rather than shaped around files.
 * ≙ the reference's Redis list adapter (`libs/simple_queue.py:49-51`
 * pushes JSON jobs to a broker; workers BRPOP them): payloads here are
 * `toJSON` rows against a pinned schema.
 *
 * Distributed shape: [[write]] ships rows from the EXECUTORS — one
 * socket per partition pushing its own rows — never a driver collect,
 * so a corpus-scale frame streams to the broker in parallel (the broker
 * address must be executor-routable, like any service endpoint).
 * [[readStream]] is Spark's built-in `socket` source against the
 * broker's subscribe port plus a `from_json` parse — dev-grade (not
 * fault-tolerant), exactly the grade of the reference adapter it
 * mirrors; production queues stay on [[ParquetBoundary]]'s
 * checkpointed files-as-queue. Backpressure (`jobs_limit` ≙
 * `adapters/simple_queue.py:24-29`) rides the COUNT command through the
 * inherited [[StageBoundary.awaitCapacity]] loop.
 */
final class SocketBoundary(host: String, port: Int, subPort: Int,
                           schema: StructType, limit: Option[Long] = None,
                           limitTimeoutMs: Option[Long] = None)
    extends StageBoundary {

  override protected def jobsLimit: Option[Long] = limit
  override protected def throttleTimeoutMs: Option[Long] = limitTimeoutMs

  /** One request on a fresh connection; returns the OK count and any
    * payload lines (PEEK/DRAIN). */
  private def command(cmd: String): (Long, Seq[String]) = {
    val s = new Socket(host, port)
    try {
      val out = new PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, UTF_8), true)
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8))
      out.println(cmd)
      val resp = in.readLine()
      require(resp != null && resp.startsWith("OK "),
        s"queue broker rejected '$cmd': $resp")
      val n = resp.substring(3).toLong
      val lines =
        if (cmd == "PEEK" || cmd == "DRAIN")
          (0L until n).map { i =>
            val line = in.readLine()
            // fail FAST on a broker dying mid-response: a null flowing
            // into the JSON parse surfaces as an opaque NPE, and for
            // DRAIN the already-consumed rows would be silently lost
            if (line == null)
              throw new java.io.IOException(
                s"queue broker connection closed after $i of $n " +
                  s"payload lines for '$cmd'")
            line
          }.toSeq
        else Seq.empty
      (n, lines)
    } finally s.close()
  }

  override protected def append(df: DataFrame): Unit = {
    // locals only: the closure must not capture `this` (a boundary holds
    // no serializable state and never travels to executors)
    val (h, p) = (host, port)
    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      if (rows.hasNext) {
        val s = new Socket(h, p)
        try {
          val out = new PrintWriter(
            new java.io.OutputStreamWriter(s.getOutputStream, UTF_8), false)
          val in = new BufferedReader(
            new InputStreamReader(s.getInputStream, UTF_8))
          rows.foreach { json =>
            out.println(s"PUSH $json")
            out.flush()
            val resp = in.readLine()
            if (resp == null || !resp.startsWith("OK "))
              throw new java.io.IOException(
                s"queue broker rejected push: $resp")
          }
        } finally s.close()
      }
    }
  }

  /** Non-destructive batch read of the whole backlog (PEEK), parsed
    * against the pinned schema. Payloads are policy-sized job batches in
    * the reference model, so the driver-side pull mirrors what a Redis
    * LRANGE consumer does; corpus-scale data belongs on
    * [[ParquetBoundary]]. */
  override def read(spark: SparkSession): DataFrame =
    parse(spark, command("PEEK")._2)

  /** Consume-on-read (DRAIN ≙ the reference worker's BRPOP loop): the
    * returned rows are REMOVED from the broker. */
  def drain(spark: SparkSession): DataFrame =
    parse(spark, command("DRAIN")._2)

  private def parse(spark: SparkSession, lines: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .json(spark.createDataset(lines)(Encoders.STRING))

  override def readStream(spark: SparkSession): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", subPort)
      .load()
      .select(from_json(col("value"), schema).as("__r"))
      .select(col("__r.*"))

  override def jobsCount(spark: SparkSession): Long = command("COUNT")._1

  override def flush(): Unit = command("FLUSH")
}
