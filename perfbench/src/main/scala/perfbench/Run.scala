package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.core.TableStore

/** One op of the closed loop: its latency, the input rows it admitted
  * (or the result rows it returned), and whether it ran traced. */
final case class Op(unit: Int, cls: String, seconds: Double, rows: Long, traced: Boolean,
                    warmup: Boolean)

/** State of one benchmark run, shared by the workloads and the report.
  *
  * The timed region is a closed loop with one client: units of fixed
  * work (a workload defines what one unit is) run back to back, as many
  * as fit in `seconds` at the unit's nominal length. Between ops the
  * loop clears Spark's cache; that, and every measurement taken from
  * outside, is not timed. A traced run starts with one more warm-up
  * unit that is not reported (the JIT is still warming after set-up),
  * then alternates traced and untraced units, at least traced,
  * untraced, traced, so the same run yields the tracing overhead, and a
  * JVM that still gets faster from unit to unit favours neither side. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Int, val cores: Int, val work: Path,
                val trace: Boolean, val plant: Boolean) {

  val tracer = new Tracer(false)
  val probe: Option[SparkProbe] =
    if (trace) { val p = new SparkProbe; spark.sparkContext.addSparkListener(p); Some(p) }
    else None
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def nanoOfMs(ms: Long): Long = nano0 + (ms - ms0) * 1000000L

  val ops = ArrayBuffer.empty[Op]
  /** (wall, traced) of each reported unit. */
  val unitWalls = ArrayBuffer.empty[(Double, Boolean)]
  var setupS = 0.0
  var failed = 0
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val info = ArrayBuffer.empty[String]
  /** (value, base numerator, base denominator) for the amp ratios. */
  var writeAmp: (Double, Long, Long) = (Double.NaN, 0L, 0L)
  var spaceAmp: (Double, Long, Long) = (Double.NaN, 0L, 0L)
  /** Counters the workloads take during traced units (commits, bytes,
    * pruning ...); summed per name. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def count(name: String, v: Double): Unit = synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def note(line: String): Unit = synchronized { info += line }

  /** The store whose writes a traced op measures, if any. */
  var store: Option[(TableStore, Path)] = None
  /** The op class whose latencies op_p50_s and op_tail_s report, when a
    * unit mixes classes of very different cost; None: every op. */
  var latencyClass: Option[String] = None

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Run independent Spark work (set-up steps, checks, measurements;
    * never the timed ops) on parallel threads; wait for all of it and
    * rethrow the first failure. */
  def concurrently(parts: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = parts.map(p => Future(p()))
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.foreach(f => Await.result(f, Duration.Inf))
  }

  def setupTimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupS += (System.nanoTime() - t0) / 1e9
  }

  private var unit = 0
  private var tracedNow = false
  private def warmup = trace && unit == 0
  def traced: Boolean = tracedNow

  /** One timed op: `body` returns its row count. */
  def op(cls: String)(body: => Long): Long = {
    val before = if (tracedNow) store.map { case (st, root) =>
      (Measure.versions(st), Measure.list(root)) } else None
    val gc0 = Report.gcSeconds()
    val t0 = System.nanoTime()
    val rows = tracer.opSpan(ops.size, s"op.$cls")(body)
    val sec = (System.nanoTime() - t0) / 1e9
    ops += Op(unit, cls, sec, rows, tracedNow, warmup)
    if (tracedNow) count("spark.gc_s", Report.gcSeconds() - gc0)
    for ((v0, l0) <- before; (st, root) <- store) {
      val l1 = Measure.list(root)
      val (files, bytes) = l1.addedSince(l0)
      count("tablestore.commits", Measure.commits(v0, Measure.versions(st)).toDouble)
      count("tablestore.files_written", files.toDouble)
      count("tablestore.bytes_written", bytes.toDouble)
    }
    spark.catalog.clearCache()
    rows
  }

  /** Run `seconds / unitSeconds` units, at least one; `unitSeconds` is
    * about how long the workload's unit takes on the 4-core machine the
    * bounds were set on. The count is fixed, not the time: when units ran
    * until the time was up, a fast spell of the machine fit one more
    * unit, which moved the medians (a later unit is warmer) and the
    * store the amplification metrics describe. A traced run adds its
    * warm-up unit and runs at least three more. */
  def loop(unitSeconds: Double)(body: => Unit): Unit = {
    val n = math.max(1L, math.round(seconds / unitSeconds)).toInt
    val total = if (trace) 1 + math.max(3, n) else n
    var stop = false
    while (!stop && unit < total) {
      tracedNow = trace && unit % 2 == 1
      tracer.on = tracedNow
      val n0 = ops.size
      try body
      catch {
        case e: Throwable =>
          failed += 1
          stop = true
          System.err.println(s"[perfbench] op failed in unit $unit: $e")
          e.printStackTrace()
      }
      tracer.on = false
      if (!stop && !warmup) unitWalls += ((ops.drop(n0).map(_.seconds).sum, tracedNow))
      unit += 1
    }
    tracedNow = false
    loopEnd = System.nanoTime()
  }

  /** When the timed loop ended: what follows it is checks and measurement. */
  var loopEnd = 0L

  /** Ops that count: all but a traced run's warm-up unit. */
  def reported: Seq[Op] = ops.toSeq.filterNot(_.warmup)
  def attempted: Int = reported.size + failed
}
