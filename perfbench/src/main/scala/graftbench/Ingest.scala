package graftbench

import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ack.Acknowledger
import graft.config.{BatcherConfig, PipelineConfig}
import graft.core.{Pipeline, RunningPipeline}
import graft.model.{BatchInfo, Message}
import graft.sources.QueueSource

/** What the pipeline did to each message, written from executor threads
  * (in local mode the executors run inside this JVM). Index = message id =
  * queue offset.
  */
object Ledger {
  @volatile var acks: AtomicIntegerArray = new AtomicIntegerArray(0)
  @volatile var status: AtomicIntegerArray = new AtomicIntegerArray(0)
  @volatile var ackNs: AtomicLongArray = new AtomicLongArray(0)
  val acked = new AtomicLong()
  val badChunks = new AtomicLong()

  def reset(n: Int): Unit = {
    acks = new AtomicIntegerArray(n); status = new AtomicIntegerArray(n); ackNs = new AtomicLongArray(n)
    Seq(acked, badChunks).foreach(_.set(0L))
  }

  def idOf(m: Message[_]): Int = {
    val s = m.data.toString
    s.substring(0, s.indexOf('|')).toInt
  }

  /** Acked exactly once is checked from `acks`; the status from `status`
    * (0 ok, 1 failed on purpose, 2 crashed).
    */
  def mark(m: Message[_], code: Int, now: Long): Unit = {
    val id = idOf(m)
    acks.incrementAndGet(id)
    acked.incrementAndGet()
    status.set(id, code)
    ackNs.compareAndSet(id, 0L, now)
  }
}

/** The bench's acknowledger: stamps the time every message is acked. */
object StampingAcknowledger extends Acknowledger {
  def ack(ackRef: String, successful: Seq[Message[_]], failed: Seq[Message[_]]): Unit = {
    val t = System.nanoTime()
    successful.foreach(Ledger.mark(_, 0, t))
    failed.foreach(m => Ledger.mark(m, if (m.status.kind.isEmpty) 1 else 2, t))
    Trace.record("ack", Clock.us(t), Clock.nowUs(), -1L, 0L)
  }
}

/** Open-loop pushes into a queue: the generator runs on its own thread and
  * follows the wall-clock schedule whatever the pipeline does; `lateMs`
  * holds, per push, how far behind schedule it ran.
  */
final class OpenLoop(q: QueueSource.Handle, payload: Int => String, firstId: Int, dues: Array[Double]) {
  val lateMs = new ArrayBuffer[Double]()
  @volatile var startNs = 0L

  def run(): Unit = {
    startNs = System.nanoTime()
    var i = 0
    while (i < dues.length) {
      val nowS = (System.nanoTime() - startNs) / 1e9
      if (dues(i) <= nowS) {
        var j = i
        while (j < dues.length && dues(j) <= nowS) j += 1
        q.push((i until j).map(k => payload(firstId + k)): _*)
        lateMs += (nowS - dues(i)) * 1000.0
        i = j
      } else LockSupport.parkNanos(math.min(200000L, ((dues(i) - nowS) * 1e9).toLong))
    }
  }

  def start(): Thread = {
    val t = new Thread(() => run(), "perfbench-generator")
    t.setDaemon(true)
    t.start()
    t
  }

  def dueNs(k: Int): Long = startNs + (dues(k) * 1e9).toLong
}

/** Samples queue depth while a phase runs: pushed, admitted and committed
  * offsets, and messages acked so far.
  */
final class BacklogSampler(q: QueueSource.Handle, everyMs: Long) {
  val rows = new ArrayBuffer[Array[Long]]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      rows.synchronized { rows += Array(Clock.nowUs(), q.size.toLong, q.admittedOffset, q.committedOffset, Ledger.acked.get()) }
      Thread.sleep(everyMs)
    }
  }, "perfbench-backlog")
  thread.setDaemon(true)
  thread.start()
  def stop(): Seq[java.util.List[Long]] = {
    running = false
    thread.join()
    rows.synchronized(rows.toSeq.map(a => java.util.Arrays.asList(a: _*)))
  }
}

/** pipeline_ingest: QueueSource → Pipeline.start with two batchers, driven
  * by an open-loop rate ladder, then a pre-loaded backlog, then a drain.
  */
object Ingest {
  private val BatchSizes = Map("small" -> 100, "large" -> 500)

  /** Parse, route and (on purpose) fail or crash a message. */
  private def handle(m: Message[String]): Message[String] = {
    val f = m.data.split('|')
    f(3) match {
      case "1" => m.failed("failed on purpose")
      case "2" => throw new IllegalStateException("crash on purpose")
      case _ =>
        val digest = f(4).foldLeft(17)((h, c) => h * 31 + c)
        m.putData(s"${f(0)}|$digest")
          .putBatcher(if (f(1) == "1") "large" else "small")
          .putBatchKey(f(2))
    }
  }

  private def handleBatch(batcher: String, msgs: Seq[Message[String]], info: BatchInfo): Seq[Message[String]] = {
    val t0 = System.nanoTime()
    if (msgs.size > BatchSizes(batcher) || msgs.exists(_.batchKey != info.batchKey)) Ledger.badChunks.incrementAndGet()
    Trace.record("handle_batch", Clock.us(t0), Clock.nowUs(), -1L, 0L)
    msgs
  }

  def start(spark: SparkSession, queue: String): (QueueSource.Handle, RunningPipeline[String]) = {
    import spark.implicits._
    val q = QueueSource.create(queue)
    val source: Dataset[Message[String]] = spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", queue)
      .load()
      .select(col("offset"), col("value"))
      .as[(Long, String)]
      .map { case (off, v) => Message(v, metadata = Map("seq" -> off.toString)) }
    val cfg = PipelineConfig[String](
      name = queue,
      handleMessage = handle,
      handleBatch = handleBatch,
      batchers = BatchSizes.toSeq.sorted.map { case (n, s) => BatcherConfig[String](n, batchSize = s) }
    )
    (q, Pipeline.start(spark, source, cfg, StampingAcknowledger))
  }

  /** Wait until every id below `until` has been acked at least once. */
  private def awaitAcked(from: Int, until: Int, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var i = from
    while (i < until && System.nanoTime() < deadline) {
      if (Ledger.acks.get(i) > 0) i += 1 else Thread.sleep(2)
    }
    i >= until
  }

  def run(spark: SparkSession, plan: Plan, dir: String, outDir: String, out: Rec, coreLabel: String, full: Boolean): Unit = {
    val action = Io.bytes(dir, "action")
    val batcher = Io.bytes(dir, "batcher")
    val key = Io.ints(dir, "key")
    val total = action.length
    val filler = "abcdefghijklmnopqrstuvwxyz0123456789"
    val payload: Int => String = id => s"$id|${batcher(id)}|${key(id)}|${action(id)}|${filler.substring(id % 7)}"
    Ledger.reset(total)
    val rates = plan.nums("rates")
    val warm = plan.int("warmup_msgs")
    val backlog = plan.int("backlog_msgs")
    val rounds = plan.int("rounds")
    val drainN = plan.int("drain_msgs")
    var next = 0
    def pushNow(n: Int): Long = {
      val t = System.nanoTime()
      QueueSource.get(s"ingest-$coreLabel").push((next until next + n).map(payload): _*)
      next += n
      t
    }
    val (q, running) = Trace.span("pipeline.start", 0L, Trace.nextId()) { _ => start(spark, s"ingest-$coreLabel") }
    try {
      // set-up: the first micro-batches pay class loading, codegen and JIT
      // (small bursts, then one burst the size of the pre-loaded backlog)
      val warmRounds = plan.int("warmup_rounds")
      (Seq.fill(warmRounds)(warm / warmRounds) :+ backlog).foreach { n =>
        val w0 = next
        pushNow(n)
        require(awaitAcked(w0, next, 120), "warm-up messages were not acked")
      }
      out("first_timed_us") = Clock.nowUs()

      if (full) {
        val rungs = new java.util.ArrayList[AnyRef]()
        rates.zipWithIndex.foreach { case (rate, r) =>
          val dues = Io.doubles(dir, s"due$r")
          val first = next
          val gen = new OpenLoop(q, payload, first, dues)
          val sampler = new BacklogSampler(q, 10)
          val rs = new Rec
          rs("rate") = rate
          rs("start_us") = Clock.nowUs()
          val t = gen.start()
          t.join()
          next += dues.length
          rs("gen_end_us") = Clock.nowUs()
          rs("drained") = awaitAcked(first, next, 60)
          rs("end_us") = Clock.nowUs()
          rs("backlog") = sampler.stop()
          rs("late_ms") = gen.lateMs.toArray
          rs("ack_ms") = Array.tabulate(dues.length)(k =>
            (Ledger.ackNs.get(first + k) - gen.dueNs(k)) / 1e6)
          rs("first_id") = first
          rungs.add(rs)
        }
        out("rungs") = rungs
      }

      // the pre-loaded backlog, several times: capacity is their median
      val sats = new java.util.ArrayList[Rec]()
      (1 to rounds).foreach { _ =>
        val sat = new Rec
        val sampler = new BacklogSampler(q, 10)
        val first = next
        sat("start_us") = Clock.nowUs()
        val t0 = pushNow(backlog)
        sat("drained") = awaitAcked(first, next, 120)
        val last = (first until next).map(Ledger.ackNs.get).max
        sat("seconds") = (last - t0) / 1e9
        sat("msgs") = backlog
        sat("end_us") = Clock.nowUs()
        sat("backlog") = sampler.stop()
        sats.add(sat)
      }
      out("saturated") = sats

      if (full) {
        pushNow(drainN)
        val d0 = System.nanoTime()
        Trace.span("drain", 0L, Trace.nextId()) { _ => running.stop() }
        out("drain_ms") = (System.nanoTime() - d0) / 1e6
      } else running.stop()
      out("pushed") = next
      out("progress") = Progress.of(running.query)
      running.stageMetrics.foreach { m =>
        val r = new Rec
        r("processed") = m.processorProcessed
        r("failed") = m.processorFailed
        r("processor_ns") = m.processorNanos
        r("batches") = m.batcherBatches.values.sum
        r("batch_msgs") = m.batcherMessages.values.sum
        r("batch_ns") = m.batcherNanos.values.sum
        r("ack_ok") = m.ackSuccessful
        r("ack_failed") = m.ackFailed
        out("stage") = r
      }
    } finally {
      if (running.query.isActive) running.stop()
      QueueSource.remove(s"ingest-$coreLabel")
    }
    val counts = new Array[Byte](total)
    val status = new Array[Byte](total)
    (0 until total).foreach { i =>
      counts(i) = math.min(Ledger.acks.get(i), 127).toByte
      status(i) = Ledger.status.get(i).toByte
    }
    Io.writeBytes(outDir, s"acks_$coreLabel", counts)
    Io.writeBytes(outDir, s"status_$coreLabel", status)
    out("bad_chunks") = Ledger.badChunks.get()
  }
}

/** Micro-batch progress of a query, one row per batch, from the query's
  * own progress buffer (no listener needed).
  */
object Progress {
  def of(q: org.apache.spark.sql.streaming.StreamingQuery): java.util.List[Rec] = {
    val rows = new java.util.ArrayList[Rec]()
    q.recentProgress.foreach { p =>
      val r = new Rec
      r("batch") = p.batchId
      r("start_us") = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      r("rows") = p.numInputRows
      p.durationMs.forEach((k, v) => r(k) = v.longValue())
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      r("state_rows") = ops.map(_.numRowsTotal).sum
      r("state_mem") = ops.map(_.memoryUsedBytes).sum
      r("state_commit_ms") = ops.map(_.commitTimeMs).sum
      r("dropped") = ops.map(_.numRowsDroppedByWatermark).sum
      rows.add(r)
    }
    rows
  }
}
