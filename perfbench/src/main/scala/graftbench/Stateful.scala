package graftbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.model.{BatchMode, Message}
import graft.sources.QueueSource
import graft.streaming.{EmittedBatch, EventTime, KeyedBatcher}

/** stateful_stream: an open-loop feed into KeyedBatcher, then a saturated
  * stream-stream interval join over two seeded streams.
  */
object Stateful {
  private val EventOrigin = 1700000000000L

  def run(spark: SparkSession, plan: Plan, dir: String, out: Rec): Unit = {
    val kb = plan.sub("batcher")
    val j = plan.sub("join")
    // set-up: one short warm run of each query shape, side by side
    val warmJoin = new java.util.concurrent.FutureTask[Unit](() => join(spark, j, dir, out, warm = true))
    new Thread(warmJoin, "perfbench-warm-join").start()
    batcher(spark, kb, dir, out, warm = true)
    warmJoin.get()
    out("first_timed_us") = Clock.nowUs()
    batcher(spark, kb, dir, out, warm = false)
    join(spark, j, dir, out, warm = false)
  }

  private def batcher(spark: SparkSession, kb: Plan, dir: String, out: Rec, warm: Boolean): Unit = {
    import spark.implicits._
    val dues =
      if (warm) Array.tabulate(kb.int("warmup_msgs"))(_ / kb.num("rate"))
      else Io.doubles(dir, "kb_due")
    val keys = if (warm) Array.tabulate(dues.length)(_ % 50) else Io.ints(dir, "kb_key")
    val flush = if (warm) new Array[Byte](dues.length) else Io.bytes(dir, "kb_flush")
    val name = if (warm) "kb-warm" else "kb"
    val q = QueueSource.create(name)
    val source: Dataset[Message[Long]] = spark.readStream
      .format("graft.sources.QueueSourceProvider")
      .option("queue", name)
      .load()
      .select(col("offset"), col("value"))
      .as[(Long, String)]
      .map { case (off, v) =>
        val f = v.split('|')
        Message(f(0).toLong, metadata = Map("seq" -> off.toString), batchKey = f(1),
          batchMode = if (f(2) == "1") BatchMode.Flush else BatchMode.Bulk)
      }
    // emitted batches: (emit time ns, trigger, message ids)
    val emitted = new ConcurrentLinkedQueue[(Long, String, Array[Long])]()
    val batches = KeyedBatcher(source, batchSize = kb.int("batch_size"), batchTimeoutMs = kb.int("timeout_ms").toLong)
    val query = batches.writeStream
      .outputMode("append")
      .foreachBatch { (d: Dataset[EmittedBatch[Long]], _: Long) =>
        val got = d.map(b => (b.trigger, b.messages.map(_.data).toArray)).collect()
        val t = System.nanoTime()
        got.foreach { case (trigger, ids) => emitted.add((t, trigger, ids)) }
        ()
      }
      .start()
    try {
      val payload: Int => String = i => s"$i|${keys(i)}|${flush(i)}"
      val gen = new OpenLoop(q, payload, 0, dues)
      val t0 = Clock.nowUs()
      gen.start().join()
      // every open batch closes by its timeout once input stops
      val deadline = System.nanoTime() + (kb.int("timeout_ms") + 30000L) * 1000000L
      while (emitted.asScala.map(_._3.length).sum < dues.length && System.nanoTime() < deadline) Thread.sleep(20)
      if (!warm) {
        val r = new Rec
        r("start_us") = t0
        r("end_us") = Clock.nowUs()
        r("late_ms") = gen.lateMs.toArray
        r("due_start_us") = Clock.us(gen.startNs)
        val rows = emitted.asScala.toSeq
        r("emit_us") = rows.map(e => Clock.us(e._1)).toArray
        r("trigger") = rows.map(_._2)
        r("ids") = rows.map(_._3.toSeq.asJava)
        r("progress") = Progress.of(query)
        out("batcher") = r
      }
    } finally {
      query.stop()
      QueueSource.remove(name)
    }
  }

  private def join(spark: SparkSession, j: Plan, dir: String, out: Rec, warm: Boolean): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val waves = if (warm) 1 else j.int("waves")
    def side(s: String): (Array[Long], Array[Int]) =
      if (warm) (Array.tabulate(200)(_ * 100L), Array.tabulate(200)(_ % 97))
      else (Io.longs(dir, s"${s}_ts"), Io.ints(dir, s"${s}_key"))
    val (lts, lkey) = side("left")
    val (rts, rkey) = side("right")
    // both sides come from one source, so each wave lands in one micro-batch
    val src = MemoryStream[(Int, Int, Timestamp, Long)]
    val rowsDf = src.toDF().toDF("side", "key", "ts", "id")
    def sideDf(s: Int, p: String) =
      rowsDf.filter(col("side") === s).select(col("key"), col("ts").as(s"${p}_ts"), col("id").as(s"${p}_id"))
    val joined = EventTime.intervalJoin(
      sideDf(0, "l"), "l_ts", sideDf(1, "r"), "r_ts",
      Seq("key"), watermarkDelay = s"${j.int("delay_ms")} milliseconds",
      within = s"${j.int("within_ms")} milliseconds")
    val matched = new AtomicLong()
    val checksum = new AtomicLong()
    val query = joined.writeStream
      .outputMode("append")
      .foreachBatch { (d: DataFrame, _: Long) =>
        val r = d.agg(count(lit(1)), sum(col("l_id") * (1L << 20) + col("r_id"))).collect()(0)
        matched.addAndGet(r.getLong(0))
        if (!r.isNullAt(1)) checksum.addAndGet(r.getLong(1))
        ()
      }
      .start()
    try {
      def rows(side: Int, ts: Array[Long], key: Array[Int], from: Int, until: Int) =
        (from until until).map(i => (side, key(i), new Timestamp(EventOrigin + ts(i)), i.toLong))
      val per = lts.length / waves
      val t0 = System.nanoTime()
      val start = Clock.nowUs()
      (0 until waves).foreach { w =>
        val until = if (w == waves - 1) lts.length else (w + 1) * per
        src.addData(rows(0, lts, lkey, w * per, until) ++ rows(1, rts, rkey, w * per, until))
        Trace.span("join.wave", 0L, Trace.nextId()) { _ => query.processAllAvailable() }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (!warm) {
        val r = new Rec
        r("start_us") = start
        r("end_us") = Clock.nowUs()
        r("rows") = lts.length + rts.length
        r("seconds") = sec
        r("matched") = matched.get()
        r("checksum") = checksum.get()
        r("progress") = Progress.of(query)
        out("join") = r
      }
    } finally query.stop()
  }
}
