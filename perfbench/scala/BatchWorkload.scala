package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: whole passes over `names`, each pass in an
  * order drawn from the seed. A call is `SparkEntry.queries(name)` (the
  * build) followed by a `noop` write (the action), as the engine's own
  * bench times it.
  *
  * Set-up ends with one untimed pass that writes every output as parquet
  * for the oracle compare in `run.py`; it also warms codegen and the JIT,
  * so the timed passes see the steady state of a long-running application. */
final class BatchWorkload(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
    dataDir: String, workDir: String, names: Seq[String],
    result: java.util.Map[String, Any]) {

  private val queries = graft.SparkEntry.queries

  def run(): Unit = {
    val errors = new java.util.LinkedHashMap[String, String]()
    val tw = Clock.nowMs
    for (n <- order(-1)) {
      spark.catalog.clearCache()
      try queries(n)(spark, dataDir).write.mode("overwrite").parquet(s"$workDir/out/$n")
      catch { case e: Exception => errors.put(n, s"check pass: $e") }
    }
    result.put("setup.warmup_s", (Clock.nowMs - tw) / 1e3)
    result.put("oracle_sql", names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap.asJava)

    val calls = new ArrayBuffer[java.util.Map[String, Any]]()
    trace.count(spark, on = true)
    val start = Clock.nowMs
    result.put("first_timed_ms", start)
    var pass = 0
    // at least two passes, so the per-call median has ten calls beyond it
    while (pass < 2 || Clock.nowMs - start < seconds * 1e3) {
      for (n <- order(pass)) {
        spark.catalog.clearCache()
        val req = s"$n#$pass"
        val t0 = Clock.nowMs
        val ok =
          try {
            trace.span("call", req) {
              val df = trace.span("build", req)(queries(n)(spark, dataDir))
              trace.span("action", req)(df.write.format("noop").mode("overwrite").save())
            }
            true
          } catch { case e: Exception => errors.put(s"$n#$pass", e.toString); false }
        calls += Map[String, Any]("query" -> n, "pass" -> pass,
          "total_s" -> (Clock.nowMs - t0) / 1e3, "ok" -> ok).asJava
      }
      pass += 1
    }
    result.put("timed_s", (Clock.nowMs - start) / 1e3)
    trace.count(spark, on = false)
    result.put("calls", calls.asJava)
    result.put("errors", errors)
  }

  /** The seeded query order of pass `pass` (-1 is the check pass). */
  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)
}
