package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** A metric with its unit and, for ratios and order statistics, the
  * base it was computed from (printed beside it). */
final case class M(name: String, value: Double, unit: String, base: String = "")

/** Turns a finished [[Run]] into the printed metrics. */
final class Report(run: Run, sessionS: Double, rssMb: Double) {

  private def ratio(n: Double, d: Double): Double = if (d > 0) n / d else 0.0

  def endToEnd(): Seq[M] = {
    val ops = run.reported.filterNot(_.traced)
    val lat = ops.filter(o => run.latencyClass.forall(_ == o.cls)).map(_.seconds).toSeq
    val of = run.latencyClass.fold("")(c => s" $c")
    val units = run.unitWalls.filterNot(_._2).map(_._1).toSeq
    val timed = ops.map(_.seconds).sum
    val rows = ops.filter(o => run.latencyClass.forall(_ == o.cls)).map(_.rows).sum
    val (tail, pct, n) = if (lat.isEmpty) (Double.NaN, 0.0, 0) else Stats.tail(lat)
    val p50 = if (lat.isEmpty) Double.NaN else Stats.median(lat)
    val wall = if (units.isEmpty) Double.NaN else Stats.median(units)
    val (wa, waN, waD) = run.writeAmp
    val (sa, saN, saD) = run.spaceAmp
    Seq(
      M("setup_s", sessionS + run.setupS, "s",
        f"session start $sessionS%.3f s + workload set-up ${run.setupS}%.3f s"),
      M("wall_s", wall, "s", s"median of ${units.size} units of fixed work"),
      M("rows_per_s", ratio(rows, timed), "rows/s", f"$rows rows / $timed%.3f s timed"),
      M("ops_per_s", ratio(ops.size, timed), "ops/s", f"${ops.size} ops / $timed%.3f s timed"),
      M("op_p50_s", p50, "s", s"op_n=$n$of"),
      M("op_tail_s", tail, "s", f"p$pct%.1f, op_n=$n$of"),
      M("write_amp", wa, "B/B", s"$waN B written / $waD B admitted input as parquet"),
      M("space_amp", sa, "B/B", s"$saN B in store / $saD B live rows as parquet"),
      M("peak_rss_mb", rssMb, "MB", "VmHWM"),
      M("ok_ratio", ratio(run.attempted - run.failed, run.attempted), "1",
        s"${run.attempted - run.failed} ok of ${run.attempted} attempted"))
  }

  /** Span names whose self time is reported as `<name>.s`. */
  val SpanLayers: Seq[String] = Seq(
    "jobs.staging", "jobs.bronze_load", "jobs.silver_load", "jobs.gold_fact", "jobs.gdpr",
    "ivm.apply_join", "jobcontrol.record", "jobcontrol.watermark",
    "tablestore.create", "tablestore.merge_upsert", "tablestore.update_vectorized",
    "tablestore.merge_delete", "tablestore.read_version", "tablestore.read_changes",
    "sources.sql_star", "sources.sql_point", "sources.sql_asof")
  /** Span names whose call count is reported as `<name>.calls`. */
  val CallLayers: Seq[String] = Seq("ivm.apply_join", "tablestore.create", "tablestore.merge_upsert")

  def perLayer(): Seq[M] = {
    val spans = run.tracer.spans.toSeq
    val top = run.tracer.topLevel
    val byName = Trace.byName(spans)
    val c = run.counters
    def ctr(n: String) = c.getOrElse(n, 0.0)
    val tracedOps = run.reported.filter(_.traced)
    val tracedS = tracedOps.map(_.seconds).sum
    val topS = top.map(s => (s.end - s.start) / 1e9).sum

    val probe = run.probe.getOrElse(new SparkProbe)
    probe.drain()
    val ivs = top.map(s => (s.start, s.end))
    val jobs = probe.synchronized(probe.jobs.values.toSeq).filter { j =>
      val t = run.nanoOfMs(j.startMs)
      ivs.exists { case (a, b) => t >= a - 1000000L && t <= b }
    }
    // the tracer's own store walks run no Spark job: not a driver gap
    val walks = spans.filter(_.name.startsWith("trace.")).map(s => (s.start, s.end))
    val walkS = walks.map { case (a, b) => b - a }.sum / 1e9
    val jiv = jobs.map(j => (run.nanoOfMs(j.startMs), run.nanoOfMs(j.endMs max j.startMs)))
    val gap = top.map(s => (s.end - s.start) - Trace.covered(jiv ++ walks, s.start, s.end)).sum / 1e9
    val busy = jobs.map(_.runMs).sum / 1000.0
    val coreS = topS * run.cores
    val recordsRead = jobs.map(_.recordsRead).sum.toDouble
    val returned = tracedOps.map(_.rows).sum.toDouble
    val units = run.unitWalls.toSeq
    val tracedUnit = units.filter(_._2).map(_._1)
    val plainUnit = units.filterNot(_._2).map(_._1)
    val tu = if (tracedUnit.isEmpty) Double.NaN else Stats.median(tracedUnit)
    val pu = if (plainUnit.isEmpty) Double.NaN else Stats.median(plainUnit)

    val layer = SpanLayers.map(n => M(s"$n.s", byName.get(n).map(_._1).getOrElse(0.0), "s", "self")) ++
      CallLayers.map(n => M(s"$n.calls", byName.get(n).map(_._2.toDouble).getOrElse(0.0), "count"))
    val store = Seq(
      M("tablestore.commits", ctr("tablestore.commits"), "count", "sum of currentVersion deltas"),
      M("tablestore.bytes_written", ctr("tablestore.bytes_written"), "B"),
      M("tablestore.files_written", ctr("tablestore.files_written"), "count"),
      M("tablestore.live_dirs", ctr("tablestore.live_dirs"), "count", "end of run"),
      M("tablestore.dv_files", ctr("tablestore.dv_files"), "count", "end of run"),
      M("pruning.dirs_scanned", ctr("pruning.dirs_scanned"), "count"),
      M("pruning.dirs_total", ctr("pruning.dirs_total"), "count"),
      M("pruning.scan_ratio", ratio(ctr("pruning.dirs_scanned"), ctr("pruning.dirs_total")), "1",
        f"${ctr("pruning.dirs_scanned")}%.0f / ${ctr("pruning.dirs_total")}%.0f dirs"))
    def sum(js: Seq[probe.Job])(f: probe.Job => Double) = js.map(f).sum
    val byModule = Trace.Modules.flatMap { m =>
      val js = jobs.filter(_.module == m)
      Seq(M(s"spark.jobs.$m", js.size, "count"),
        M(s"spark.stages.$m", sum(js)(_.stages), "count"),
        M(s"spark.tasks.$m", sum(js)(_.tasks.toDouble), "count"),
        M(s"spark.job_s.$m", sum(js)(j => (j.endMs - j.startMs) / 1000.0), "s"))
    }
    val sparkM = Seq(
      M("spark.jobs", jobs.size, "count"),
      M("spark.stages", sum(jobs)(_.stages), "count"),
      M("spark.tasks", sum(jobs)(_.tasks.toDouble), "count")) ++ byModule ++ Seq(
      M("spark.driver_gap_s", gap, "s", "traced op time with no Spark job running"),
      M("spark.shuffle_write_bytes", sum(jobs)(_.shuffleWrite.toDouble), "B"),
      M("spark.shuffle_read_bytes", sum(jobs)(_.shuffleRead.toDouble), "B"),
      M("spark.executor_busy_s", busy, "s"),
      M("spark.core_s", coreS, "s", s"traced op time x ${run.cores} cores"),
      M("spark.busy_share", ratio(busy, coreS), "1", f"$busy%.3f busy s / $coreS%.3f core s"),
      M("spark.records_read", recordsRead, "count"),
      M("spark.input_bytes", sum(jobs)(_.bytesRead.toDouble), "B"),
      M("spark.rows_returned", returned, "count", "rows the traced ops admitted or returned"),
      M("spark.read_per_returned", ratio(recordsRead, returned), "1",
        f"$recordsRead%.0f read / $returned%.0f returned"),
      M("spark.gc_s", ctr("spark.gc_s"), "s", "JVM GC time in traced ops"),
      M("spark.failed_tasks", sum(jobs)(_.failedTasks.toDouble), "count"))
    val traceM = Seq(
      M("trace.ops", tracedOps.size, "count"),
      M("trace.spans", spans.size, "count"),
      M("trace.coverage", ratio(topS, tracedS), "1", f"$topS%.3f s top-level spans / $tracedS%.3f s traced ops"),
      M("trace.unit_traced_s", tu, "s", s"median of ${tracedUnit.size} traced units"),
      M("trace.unit_untraced_s", pu, "s", s"median of ${plainUnit.size} untraced units"),
      M("trace.overhead_s", tu - pu, "s", f"traced minus untraced unit wall; store walks $walkS%.3f s"),
      M("trace.overhead_share", ratio(tu - pu, pu), "1", "of the untraced unit wall"))
    layer ++ store ++ sparkM ++ traceM
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Median latency of every op class, beside the metrics. */
  def classLines(traced: Boolean): Seq[String] =
    run.reported.filter(_.traced == traced).groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, os) =>
      f"# op class $c%-10s p50 ${Stats.median(os.map(_.seconds))}%.4f s, n=${os.size}"
    }

  def lines(ms: Seq[M]): Seq[String] = ms.map { m =>
    f"${m.name}%-34s ${fmt(m.value)}%-24s ${m.unit}%-8s ${m.base}".trim
  } ++ run.counters.toSeq.filter(_._1.startsWith("span.")).map { case (n, v) =>
    f"# ${n}%-40s $v%.0f"
  }

  def json(correct: Boolean, ms: Seq[M]): String = {
    val body = ms.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": $correct, "attempted": ${run.attempted max 1}, "failed": ${run.failed}, "metrics": {$body}}"""
  }
}

object Report {
  /** Total JVM GC time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum / 1000.0
}
