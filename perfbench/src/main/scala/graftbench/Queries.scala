package graftbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.SparkEntry
import graft.ops.{Caches, Tables}

/** query_suite: one client runs a fixed sample of registry queries, a cold
  * pass first and then warm passes, each query ending in a noop write.
  */
object Queries {

  /** One timed call: Caches.invalidate, the query function, the noop
    * write. On the cold pass the same frame is then written as parquet for
    * the oracle check, after the timed window has closed.
    */
  private def once(spark: SparkSession, name: String, tables: String, pass: Int, checkDir: String): Rec = {
    val fn = SparkEntry.queries(name)
    Caches.invalidate()
    val r = new Rec
    r("name") = name
    r("pass") = pass
    val cg0 = CodeGenerator.compileTime
    val trace = Trace.nextId()
    val t0 = System.nanoTime()
    var df: org.apache.spark.sql.DataFrame = null
    try {
      Trace.span("query", 0L, trace) { root =>
        df = Trace.span("construct", root, trace) { _ => fn(spark, tables) }
        r("construct_end_us") = Clock.nowUs()
        Trace.span("execute", root, trace) { _ => df.write.mode("overwrite").format("noop").save() }
      }
      r("ok") = true
    } catch {
      case NonFatal(e) =>
        r("ok") = false
        r("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t1 = System.nanoTime()
    r("ms") = (t1 - t0) / 1e6
    r("start_us") = Clock.us(t0)
    r("end_us") = Clock.us(t1)
    r("codegen_ms") = (CodeGenerator.compileTime - cg0) / 1e6
    r("cold_builds") = Caches.coldBuildTags.size
    if (pass == 0 && df != null)
      try df.write.mode("overwrite").parquet(s"$checkDir/$name")
      catch { case NonFatal(e) => r("check_error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
    r
  }

  def run(spark: SparkSession, plan: Plan, tables: String, outDir: String, out: Rec): Unit = {
    val names = plan.strs("queries")
    val orders = plan.list("warm_orders").map(o => o.asInstanceOf[java.util.List[AnyRef]])
    val warmPasses = plan.int("warm_passes")
    val runs = new java.util.ArrayList[Rec]()
    out("first_timed_us") = Clock.nowUs()
    names.foreach(n => runs.add(once(spark, n, tables, 0, s"$outDir/check")))
    (1 to warmPasses).foreach { pass =>
      orders(pass - 1).forEach(i => runs.add(once(spark, names(i.asInstanceOf[Number].intValue()), tables, pass, s"$outDir/check")))
    }
    out("timed_end_us") = Clock.nowUs()
    out("runs") = runs

    if (Trace.on) {
      // direct timed resolution of every table, outside the query passes
      val resolve = new Rec
      Tables.names.foreach { t =>
        resolve(t) = (1 to 5).map { _ =>
          val s = System.nanoTime()
          if (t == "events") Tables.events(spark, tables) else Tables.table(spark, tables, t)
          (System.nanoTime() - s) / 1e6
        }.toArray
      }
      out("resolve_ms") = resolve
    }

    Caches.invalidate()
    out("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }
}
