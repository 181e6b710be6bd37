package graftbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The run plan written by run.py: a JSON object read back as nested Java maps. */
final class Plan(val m: java.util.Map[String, AnyRef]) {
  def str(k: String): String = m.get(k).toString
  def num(k: String): Double = m.get(k).asInstanceOf[Number].doubleValue()
  def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue()
  def sub(k: String): Plan = new Plan(m.get(k).asInstanceOf[java.util.Map[String, AnyRef]])
  def list(k: String): Seq[AnyRef] = m.get(k).asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
  def nums(k: String): Seq[Double] = list(k).map(_.asInstanceOf[Number].doubleValue())
  def strs(k: String): Seq[String] = list(k).map(_.toString)
}

/** Reads the generator's little-endian arrays and writes the run's record. */
object Io {
  val json = new ObjectMapper()

  def plan(f: File): Plan =
    new Plan(json.readValue(f, classOf[java.util.Map[String, AnyRef]]))

  private def buf(dir: String, name: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(new File(dir, name + ".bin").toPath)).order(ByteOrder.LITTLE_ENDIAN)

  def bytes(dir: String, name: String): Array[Byte] = Files.readAllBytes(new File(dir, name + ".bin").toPath)
  def ints(dir: String, name: String): Array[Int] = {
    val b = buf(dir, name).asIntBuffer(); val a = new Array[Int](b.remaining()); b.get(a); a
  }
  def longs(dir: String, name: String): Array[Long] = {
    val b = buf(dir, name).asLongBuffer(); val a = new Array[Long](b.remaining()); b.get(a); a
  }
  def doubles(dir: String, name: String): Array[Double] = {
    val b = buf(dir, name).asDoubleBuffer(); val a = new Array[Double](b.remaining()); b.get(a); a
  }
  def writeBytes(dir: String, name: String, a: Array[Byte]): Unit =
    Files.write(new File(dir, name + ".bin").toPath, a)

  def write(f: File, value: AnyRef): Unit = json.writeValue(f, value)
}

/** Wall-clock timestamps in epoch microseconds with nanoTime resolution. */
object Clock {
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  def us(ns: Long): Long = originUs + (ns - originNs) / 1000L
  def nowUs(): Long = us(System.nanoTime())
}

/** One JSON-ready record: insertion-ordered, values are numbers, strings,
  * arrays, lists or nested records.
  */
final class Rec extends java.util.LinkedHashMap[String, AnyRef] {
  def update(k: String, v: Any): Unit = {
    val j: AnyRef = v match {
      case s: Seq[_]   => s.map(_.asInstanceOf[AnyRef]).asJava
      case m: Map[_, _] => m.map { case (a, b) => a.toString -> b.asInstanceOf[AnyRef] }.asJava
      case x           => x.asInstanceOf[AnyRef]
    }
    put(k, j)
  }
}

/** Spans around calls into each layer, kept in memory until the run ends.
  * Times are epoch microseconds. `parent` 0 marks a root, -1 a span whose
  * parent is the enclosing micro-batch (resolved by time at analysis).
  */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Array[Any]]()

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startUs: Long, endUs: Long, parent: Long, trace: Long, id: Long = nextId()): Long = {
    if (on) spans.add(Array(name, startUs, endUs, id, parent, trace))
    id
  }

  /** Time `body` as a span when tracing; the body gets the span's id. */
  def span[T](name: String, parent: Long, trace: Long)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId()
      val s = Clock.nowUs()
      try body(id)
      finally record(name, s, Clock.nowUs(), parent, trace, id)
    }

  def all: java.util.List[java.util.List[Any]] =
    spans.asScala.toSeq.map(a => a.toSeq.asJava).asJava
}

/** Spark execution counters taken from the listener bus; registered only
  * in the traced run. Each task and job is kept with its end time so
  * run.py can attribute it to the phase or query that was running.
  */
final class ExecListener extends SparkListener {
  // task rows: finishUs, cpuNs, runMs, shuffleWriteBytes, shuffleReadBytes, spillBytes, gcMs, stageId
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  // job rows: startUs, stage count
  val jobs = new ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Array(e.time * 1000L, e.stageInfos.size.toLong))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Array(
        e.taskInfo.finishTime * 1000L, m.executorCpuTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime, e.stageId.toLong))
  }

  /** Wait until the bus has gone quiet, so every event is counted. */
  def settle(): Unit = {
    var last = -1L
    var n = tasks.size.toLong + jobs.size
    while (n != last) { last = n; Thread.sleep(300); n = tasks.size.toLong + jobs.size }
  }

  def record(): Rec = {
    val r = new Rec
    r("tasks") = tasks.asScala.toSeq.map(_.toSeq.asJava)
    r("jobs") = jobs.asScala.toSeq.map(_.toSeq.asJava)
    r
  }
}

/** Catalyst phase times of every executed plan (traced run only). */
final class PlanListener extends QueryExecutionListener {
  // rows: analysisStartUs, planningEndUs, analysisMs, optimizationMs, planningMs
  val plans = new ConcurrentLinkedQueue[Array[Long]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = qe.tracker.phases
    def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val end = p.values.map(_.endTimeMs).maxOption.getOrElse(0L)
    plans.add(Array(start * 1000L, end * 1000L, d("analysis"), d("optimization"), d("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Session {
  /** The session the engine's own entry points use (see graft.Verify). */
  def create(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // keep every micro-batch's progress: the phase metrics read them all
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}
