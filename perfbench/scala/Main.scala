package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes raw measurements as JSON for
  * `run.py`, which turns them into metrics.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  * <dataDir> <workDir> <result.json> <params.json>`, where `params.json`
  * holds what `run.py` decided for the workload: the batch query names,
  * or the streaming rates and batch sizes. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, out) = args.take(7)
    val params = new ObjectMapper().readValue(
      new java.io.File(args(7)), classOf[java.util.Map[String, Any]])
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = new Trace(traceS == "1")
    val result = new java.util.LinkedHashMap[String, Any]()

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val t0 = Clock.nowMs
    val spark = session(cpus, workDir)
    result.put("setup.session_s", (Clock.nowMs - t0) / 1e3)
    trace.attach(spark)
    val codegen0 = codegenTotals()

    workload match {
      case "stream-stateful" =>
        new StreamWorkload(spark, trace, seconds, dataDir, params, result).run()
      case "batch" =>
        val names = params.get("queries").asInstanceOf[java.util.List[String]].asScala.toSeq
        new BatchWorkload(spark, trace, seed, seconds, dataDir, workDir, names, result).run()
      case other => sys.error(s"unknown workload: $other")
    }
    val codegen1 = codegenTotals()
    result.put("codegen.classes", codegen1._1 - codegen0._1)
    result.put("codegen.compile_ms", (codegen1._2 - codegen0._2) / 1e6)
    result.put("cpus", cpus.toInt)
    result.put("spans", trace.spansAsJava)
    result.put("counters", trace.counters)
    result.put("peak_rss_mb", peakRssMb())

    if (trace.on && workload == "stream-stateful") {
      spark.stop()
      val one = session("1", workDir)
      result.put("stream.rows_per_s_1core",
        new StreamWorkload(one, new Trace(false), seconds, dataDir, params,
          new java.util.LinkedHashMap[String, Any]()).capacityOnly())
      one.stop()
    } else spark.stop()
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), result)
  }

  /** The engine's own session recipe, with every scratch location moved
    * under the benchmark's work directory. */
  def session(cpus: String, workDir: String): SparkSession = {
    System.setProperty("spark.local.dir", s"$workDir/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$workDir/warehouse")
    System.setProperty("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints-$cpus")
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.Sessions.local(cpus)
  }

  /** (classes compiled, compile nanoseconds) so far in this JVM. */
  private def codegenTotals(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
