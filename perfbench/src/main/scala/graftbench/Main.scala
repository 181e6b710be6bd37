package graftbench

import java.io.File
import scala.jdk.CollectionConverters._

/** Entry point: `Main <plan.json>`. Runs one workload as the plan says and
  * writes `result.json` next to it; run.py checks and reports it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val planFile = new File(args(0))
    val plan = Io.plan(planFile)
    val outDir = planFile.getParent
    val inDir = plan.str("inputs")
    val cores = plan.int("cores")
    Trace.on = plan.int("trace") == 1
    val out = new Rec
    out("jvm_start_us") = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    var spark = Session.create(cores, plan.str("work"))
    val exec = new ExecListener
    val plans = new PlanListener
    if (Trace.on) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
    }
    out("spark_version") = spark.version
    try {
      plan.str("workload") match {
        case "pipeline_ingest" =>
          Ingest.run(spark, plan.sub("ingest"), inDir, outDir, out, "main", full = true)
          if (Trace.on) {
            // single-core baseline of the saturated phase, in a fresh context
            exec.settle()
            spark.stop()
            spark = Session.create(1, plan.str("work"))
            val one = new Rec
            Ingest.run(spark, plan.sub("ingest"), inDir, outDir, one, "1core", full = false)
            out("one_core") = one
          }
        case "stateful_stream" => Stateful.run(spark, plan.sub("stateful"), inDir, out)
        case "query_suite"     => Queries.run(spark, plan.sub("queries"), inDir, outDir, out)
        case w                 => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (Trace.on) {
        exec.settle()
        out("exec") = exec.record()
        out("plans") = plans.plans.asScala.toSeq.map(_.toSeq.asJava)
        out("spans") = Trace.all
      }
      out("peak_rss_mb") = Session.peakRssMb()
      Io.write(new File(outDir, "result.json"), out)
    } finally spark.stop()
  }
}
