package perfbench

import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sinks.Sinks
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The paper's stateful topologies over `MemoryStream` input made by
  * `gen.py` (one file of (key, event time, aux) records per topology):
  *   - T4: 1-minute tumbling count, 10 s grace, attached to a
  *     `WindowCountStore` through `Sinks.interactiveWindowCounts`;
  *   - T7: 5-minute sliding count (`StreamOps.slidingCount`);
  *   - T8: orders ⋈ payments within 1 minute (`StreamOps.streamStreamJoin`),
  *     both sides read from one source so a batch never splits a side;
  *   - T10: `StreamOps.fraudDetector` (amount ≥ 500, alert past 3).
  *
  * All four start and take two warm-up batches during set-up. Then each in
  * turn runs a closed-loop capacity phase (fixed-size batches back to back)
  * and an open-loop phase: one generator thread releases events every
  * `PeriodMs` on a fixed schedule at the topology's rate, whatever the
  * query is doing. During T4's open loop a second thread reads the store
  * with `fetch(key, t - 5 min, t)` every `FetchPeriodMs`.
  *
  * `params` (from `run.py`): `rates` per topology, `warm_rows`,
  * `batch_rows` and `closed_batches`.
  *
  * Every output is compared with a plain-Scala reference over the same
  * events; T10's reference replays the micro-batches the query actually
  * ran, because its alert counts depend on the order records are seen. */
final class StreamWorkload(spark: SparkSession, trace: Trace, seconds: Double,
    dataDir: String, params: java.util.Map[String, Any], result: java.util.Map[String, Any]) {
  import spark.implicits._
  private implicit val sqlCtx: SQLContext = spark.sqlContext
  private implicit val session: SparkSession = spark

  private def num(m: Any, k: String): Double =
    m.asInstanceOf[java.util.Map[String, Any]].get(k).asInstanceOf[Number].doubleValue
  private val warmRows = num(params, "warm_rows").toInt
  private val batchRows = num(params, "batch_rows").toInt
  private val closedBatches = num(params, "closed_batches").toInt
  private val PeriodMs = 10.0
  private val FetchPeriodMs = 1.5
  private val WindowMs = 60000L
  private val SlideMs = 5 * 60000L

  /** Records of one topology, as written by `gen.py`. */
  final class Events(val key: Array[Int], val t: Array[Long], val aux: Array[Double]) {
    def n: Int = key.length
    def onTime(i: Int): Boolean = t(i) >= Events.T0
  }
  object Events {
    val T0 = 1735689600000L // 2025-01-01T00:00:00Z; late records lie hours before it
    def load(topo: String): Events = {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dataDir/stream-$topo.bin"))
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = bytes.length / 20
      val (k, t, a) = (new Array[Int](n), new Array[Long](n), new Array[Double](n))
      for (i <- 0 until n) { k(i) = buf.getInt; t(i) = buf.getLong; a(i) = buf.getDouble }
      new Events(k, t, a)
    }
  }

  private def keyName(k: Int) = s"k$k"

  /** One topology: its query, its input, and its reference check. */
  abstract class Topo(val name: String) {
    val ev: Events = Events.load(name)
    val rate: Double = num(params.get("rates"), name)
    var query: StreamingQuery = _
    /** (first record, end record, MemoryStream offset) of every add. */
    val chunks = new ArrayBuffer[(Int, Int, Long)]()
    /** Records are released as a prefix; the references cover just it. */
    def sent: Range = 0 until chunks.synchronized(chunks.map(_._2).maxOption.getOrElse(0))
    def start(): StreamingQuery
    protected def addRows(from: Int, until: Int): Long
    def add(from: Int, until: Int): Long = {
      val off = addRows(from, until)
      chunks.synchronized(chunks += ((from, until, off)))
      off
    }
    /** Mismatching output rows against the reference (0 when correct). */
    def check(batches: Seq[StreamingQueryProgress]): Long

    /** A `foreachBatch` body that keeps `f`'s rows for the check. It is
      * the benchmark's own collector, not the program's sink layer, and
      * its span only carries the request id (topology#batch). */
    protected def collect[T](out: ArrayBuffer[T])(f: DataFrame => Seq[T]): (DataFrame, Long) => Unit =
      (df, id) => trace.span("collect", s"$name#$id") {
        val rows = f(df)
        out.synchronized(out ++= rows)
      }
    protected def ts(i: Int) = new Timestamp(ev.t(i))
    protected def mismatches[K, V](got: collection.Map[K, V], want: collection.Map[K, V]): Long =
      (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k)).toLong
  }

  final class T4 extends Topo("t4") {
    val store = new Sinks.WindowCountStore
    private val in = MemoryStream[(String, Timestamp)]
    def start(): StreamingQuery = Sinks.interactiveWindowCounts(
      StreamOps.tumblingCount(in.toDF().toDF("key", "eventTime"), "1 minute", graceSeconds = 10), store)
    protected def addRows(from: Int, until: Int): Long =
      in.addData((from until until).map(i => (keyName(ev.key(i)), ts(i)))).json.toLong
    /** Final count of every (key, window start) over on-time records in `rs`. */
    def counts(rs: Range): Map[(String, Long), Long] =
      rs.filter(ev.onTime).groupBy(i => (keyName(ev.key(i)), ev.t(i) / WindowMs * WindowMs))
        .map { case (k, is) => k -> is.size.toLong }
    /** Upper bounds for reads taken while the stream runs. */
    val bounds: Map[(String, Long), Long] = counts(0 until ev.n)
    def check(batches: Seq[StreamingQueryProgress]): Long =
      mismatches(store.snapshot().map { case (k, w, c) => (k, w.getTime) -> c }.toMap, counts(sent))
  }

  final class T7 extends Topo("t7") {
    private val out = new ArrayBuffer[(String, Long, Long)]()
    private val in = MemoryStream[StreamOps.SlidingEvent]
    def start(): StreamingQuery = StreamOps.slidingCount(in.toDS(), SlideMs).toDF()
      .writeStream.queryName(name).outputMode("update")
      .foreachBatch(collect(out)(_.collect().toSeq.map(r =>
        (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2))))).start()
    protected def addRows(from: Int, until: Int): Long =
      in.addData((from until until).map(i => StreamOps.SlidingEvent(keyName(ev.key(i)), ts(i)))).json.toLong
    /** Per key and distinct on-time event time t, the records in [t, t + 5 min). */
    def check(batches: Seq[StreamingQueryProgress]): Long = {
      val want = mutable.Map[(String, Long), Long]()
      sent.filter(ev.onTime).groupBy(ev.key).foreach { case (k, is) =>
        val times = is.map(ev.t).sorted.toArray
        var hi = 0
        for (lo <- times.indices if lo == 0 || times(lo) != times(lo - 1)) {
          while (hi < times.length && times(hi) < times(lo) + SlideMs) hi += 1
          want((keyName(k), times(lo))) = (hi - lo).toLong
        }
      }
      val got = mutable.Map[(String, Long), Long]()
      out.foreach { case (k, w, c) => got((k, w)) = c }
      mismatches(got, want)
    }
  }

  /** aux = 0 for an order (left side), 1 for its payment (right side);
    * late orders carry negative keys and have no payment. */
  final class T8 extends Topo("t8") {
    private val out = new ArrayBuffer[(String, String, String)]()
    private val in = MemoryStream[(Int, String, String, Timestamp)]
    private def k(i: Int) = if (ev.key(i) < 0) s"L${-ev.key(i)}" else s"o${ev.key(i)}"
    def start(): StreamingQuery = {
      val all = in.toDF().toDF("side", "key", "value", "eventTime")
      val orders = all.filter(col("side") === 0).select("key", "value", "eventTime")
      val payments = all.filter(col("side") === 1).select("key", "value", "eventTime")
      StreamOps.streamStreamJoin(orders, payments, withinMinutes = 1)
        .select("key", "value", "r_value")
        .writeStream.queryName(name).outputMode("append")
        .foreachBatch(collect(out)(_.collect().toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getString(2))))).start()
    }
    protected def addRows(from: Int, until: Int): Long =
      in.addData((from until until).map { i =>
        val side = ev.aux(i).toInt
        (side, k(i), (if (side == 0) "order-" else "pay-") + k(i), ts(i))
      }).json.toLong
    def check(batches: Seq[StreamingQueryProgress]): Long = {
      val want = sent.filter(i => ev.aux(i) == 1.0)
        .map(i => (k(i), s"order-${k(i)}", s"pay-${k(i)}") -> 1L).toMap
      val got = out.groupBy(identity).map { case (r, rs) => r -> rs.size.toLong }
      mismatches(got, want)
    }
  }

  /** aux = order amount. */
  final class T10 extends Topo("t10") {
    private val out = new ArrayBuffer[(String, Long, Long)]()
    private val in = MemoryStream[StreamOps.FraudInput]
    def start(): StreamingQuery = StreamOps.fraudDetector(in.toDS(), minAmount = 500.0, countThreshold = 3L)
      .toDF().writeStream.queryName(name).outputMode("append")
      .foreachBatch(collect(out)(_.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))))).start()
    protected def addRows(from: Int, until: Int): Long =
      in.addData((from until until).map(i =>
        StreamOps.FraudInput(keyName(ev.key(i)), i.toLong, f"${ev.aux(i)}%.2f", ts(i)))).json.toLong
    /** Replays the batches in order: per key, qualifying records in
      * (event time, order key) order bump a count that alerts past 3. */
    def check(batches: Seq[StreamingQueryProgress]): Long = {
      val counts = mutable.Map[Int, Long]().withDefaultValue(0L)
      val want = mutable.Map[(String, Long, Long), Long]().withDefaultValue(0L)
      for (b <- batches) {
        val (lo, hi) = offsets(b)
        val recs = chunks.filter { case (_, _, o) => o > lo && o <= hi }
          .flatMap { case (f, u, _) => f until u }
        recs.filter(i => ev.aux(i) >= 500.0).sortBy(i => (ev.key(i), ev.t(i), i)).foreach { i =>
          counts(ev.key(i)) += 1
          if (counts(ev.key(i)) > 3) want((keyName(ev.key(i)), i.toLong, counts(ev.key(i)))) += 1
        }
      }
      mismatches(out.groupBy(identity).map { case (r, rs) => r -> rs.size.toLong }, want)
    }
  }

  private def offsets(p: StreamingQueryProgress): (Long, Long) = {
    val s = p.sources.head
    (Option(s.startOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L),
      Option(s.endOffset).filter(_ != "null").map(_.toLong).getOrElse(-1L))
  }

  private def progressOf(t: Topo): Seq[StreamingQueryProgress] =
    t.query.recentProgress.toSeq.filter(_.sources.nonEmpty).sortBy(_.batchId)

  private def progressJson(p: StreamingQueryProgress): java.util.Map[String, Any] = {
    val ops = p.stateOperators
    val (lo, hi) = offsets(p)
    Map[String, Any](
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "start_offset" -> lo, "end_offset" -> hi, "rows" -> p.numInputRows,
      "durations" -> p.durationMs,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "state_updates_ms" -> ops.map(_.allUpdatesTimeMs).sum,
      "state_removals_ms" -> ops.map(_.allRemovalsTimeMs).sum,
      "state_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum).asJava
  }

  private def sleepUntil(ms: Double): Unit = {
    var left = ms - Clock.nowMs
    while (left > 0) { LockSupport.parkNanos((left * 1e6).toLong); left = ms - Clock.nowMs }
  }

  private def startAll(): Seq[Topo] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    val topos = Seq(new T4, new T7, new T8, new T10)
    topos.foreach(t => t.query = t.start())
    topos
  }

  /** Closed loop: `batches` batches of `rows` records, each added and
    * processed before the next. Returns (records, busy seconds). */
  private def closedLoop(t: Topo, from: Int, batches: Int, rows: Int): (Int, Double) = {
    var busy = 0.0
    for (b <- 0 until batches) {
      val t0 = Clock.nowMs
      trace.span("closed_batch", s"${t.name}#closed$b") {
        t.add(from + b * rows, from + (b + 1) * rows)
        t.query.processAllAvailable()
      }
      busy += Clock.nowMs - t0
    }
    (batches * rows, busy / 1e3)
  }

  /** Two warm-up batches per topology, the four queries side by side. */
  private def warmUp(topos: Seq[Topo]): Unit =
    for (b <- 0 until 2) {
      topos.foreach(t => t.add(b * warmRows / 2, (b + 1) * warmRows / 2))
      topos.foreach(_.query.processAllAvailable())
    }

  def run(): Unit = {
    val ti = Clock.nowMs
    val topos = startAll()
    result.put("setup.inputs_s", (Clock.nowMs - ti) / 1e3)
    val tw = Clock.nowMs
    warmUp(topos)
    result.put("setup.warmup_s", (Clock.nowMs - tw) / 1e3)

    trace.count(spark, on = true)
    result.put("first_timed_ms", Clock.nowMs)
    val openMs = seconds * 1e3 / 4
    val fetchLat = new ArrayBuffer[Double]()
    var fetchBad = 0L
    val per = new java.util.LinkedHashMap[String, Any]()
    for (t <- topos) {
      val (rows, busy) = closedLoop(t, warmRows, closedBatches, batchRows)
      val from = warmRows + rows
      val total = math.min((t.rate * openMs / 1e3).toInt, t.ev.n - from)
      val sched = new ArrayBuffer[java.util.Map[String, Any]]()
      @volatile var frontier = Events.T0
      @volatile var running = true
      val stepMs = 1e3 / t.rate
      val start = Clock.nowMs + 20
      val gen = new Thread(() => {
        var i = 0
        var j = 0
        while (i < total) {
          val end = math.min(total, math.ceil((j + 1) * PeriodMs / stepMs).toInt)
          val due = start + (j + 1) * PeriodMs
          sleepUntil(due)
          val sent = Clock.nowMs
          val off = t.add(from + i, from + end)
          frontier = t.ev.t(from + end - 1).max(frontier)
          sched += Map[String, Any]("offset" -> off, "n" -> (end - i),
            "due_first_ms" -> (start + i * stepMs), "step_ms" -> stepMs,
            "due_ms" -> due, "sent_ms" -> sent).asJava
          i = end
          j += 1
        }
      }, s"perfbench-gen-${t.name}")
      val reader = t match {
        case t4: T4 => Some(new Thread(() => {
          val rnd = new java.util.SplittableRandom(t4.ev.t(0))
          var due = start
          while (running) {
            sleepUntil(due)
            val key = keyName(t4.ev.key(rnd.nextInt(warmRows)))
            val to = frontier
            val t0 = System.nanoTime()
            val got =
              try t4.store.fetch(key, new Timestamp(to - 5 * 60000L), new Timestamp(to))
              catch { case _: Exception => null }
            fetchLat += (System.nanoTime() - t0) / 1e3
            if (got == null || got.exists { case (w, c) =>
                  w.getTime < to - 5 * 60000L || w.getTime > to ||
                  c > t4.bounds.getOrElse((key, w.getTime), 0L) })
              fetchBad += 1
            due += FetchPeriodMs
          }
        }, "perfbench-fetch"))
        case _ => None
      }
      reader.foreach(_.start())
      gen.start()
      gen.join()
      val end = Clock.nowMs
      running = false
      reader.foreach(_.join())
      t.query.processAllAvailable()
      per.put(t.name, new java.util.LinkedHashMap[String, Any](Map[String, Any](
        "closed_rows" -> rows, "closed_busy_s" -> busy,
        "open_end_ms" -> end, "open_rows" -> total,
        "chunks" -> sched.asJava).asJava))
    }
    trace.count(spark, on = false)
    result.put("timed_end_ms", Clock.nowMs)

    var failed = 0L
    for (t <- topos) {
      t.query.stop()
      val batches = progressOf(t)
      val m = t.check(batches)
      failed += m
      val r = per.get(t.name).asInstanceOf[java.util.Map[String, Any]]
      r.put("mismatches", m)
      r.put("progress", batches.map(progressJson).asJava)
    }
    result.put("topologies", per)
    result.put("iq.store_entries", topos.head.asInstanceOf[T4].store.snapshot().size)
    result.put("fetch_us", fetchLat.asJava)
    result.put("fetch_failed", fetchBad)
    result.put("stream_failed", failed)
  }

  /** Closed-loop capacity alone, for the single-core baseline. */
  def capacityOnly(): Double = {
    val topos = startAll()
    warmUp(topos)
    val runs = topos.map(t => closedLoop(t, warmRows, closedBatches, batchRows))
    topos.foreach(_.query.stop())
    runs.map(_._1).sum / runs.map(_._2).sum
  }
}
