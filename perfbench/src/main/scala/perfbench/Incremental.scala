package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.TableStore
import graft.jobs.{PaymentData, PaymentJobs}
import graft.ops.{DateSpine, Ivm, JobControl}

/** `incremental_days`: the store is seeded from the first fifth of the
  * `updated_at` history of sf0.1 at 1x; each day then applies the next
  * daily batch (1/100 of the history span) in watermark order: own
  * watermark read, staging, bronze merge on (transaction_id, updated_at),
  * silver merge with the change feed on, the gold fact kept current by
  * `Ivm.applyJoinDelta` over silver's changes with dims pinned, and a
  * job_control record per stage, and `PaymentJobs.gdprDelete` for a
  * customer the seed picks. A unit is one day, then one round of reads
  * ([[GoldReads]]) over the store the days leave. Small batches against a
  * large table: bound by fixed cost per Spark job and per commit, and
  * the reads by manifest replay, pruning and DV application. Set-up runs
  * one day and one query of each read class untimed, so the timed days
  * do not pay the JIT and codegen warm-up. The latency metrics report
  * the days; the reads' latencies are printed per class beside them. */
object Incremental {

  val HistorySteps = 100
  val SeedSteps = 20
  val WarmupDays = 1
  val Bronze = "bronze_transactions"
  val Silver = "silver_transactions"
  val Fact = "fact"

  final class State(val st: TableStore, val jc: JobControl, val txns: DataFrame,
                    val bounds: IndexedSeq[LocalDateTime], val gdpr: Map[Int, String],
                    val dims: Seq[(String, DataFrame)], val enrich: DataFrame => DataFrame,
                    val feedFrom: Long) {
    var applied: Long = feedFrom
    var day = 0
    val admitted = ArrayBuffer.empty[DataFrame]
  }

  def run(r: Run): Unit = {
    val root = r.work.resolve("store")
    val (s, reads) = r.setupTimed {
      val t0 = System.nanoTime()
      val s = setup(r, root)
      val t1 = System.nanoTime()
      (0 until WarmupDays).foreach(_ => day(r, s))
      s.admitted.clear()
      val t2 = System.nanoTime()
      val reads = new GoldReads(r, s)
      r.spark.catalog.clearCache()
      r.info += f"set-up: store seeded in ${(t1 - t0) / 1e9}%.1f s, warm-up day ${(t2 - t1) / 1e9}%.1f s, " +
        f"read set-up ${(System.nanoTime() - t2) / 1e9}%.1f s"
      (s, reads)
    }
    r.store = Some((s.st, root))
    r.latencyClass = Some("day")
    val before = Measure.list(root)
    r.loop(unitSeconds = 12) {
      r.op("day")(day(r, s))
      reads.round()
    }
    if (s.admitted.isEmpty) return
    val written = Measure.list(root).addedSince(before)._2
    if (r.plant) s.st.mergeDelete(Fact,
      Ivm.readJoinView(s.st, Fact).select("transaction_id").limit(1), Seq("transaction_id"))
    // the checks and measurements after the timed region are independent
    // Spark jobs over committed snapshots: run them side by side
    r.concurrently(checks(r, s) ++ Seq(() => reads.checks(),
      () => if (r.trace) Measure.storeState(r, s.st, root) else amplification(r, s, root, written)))
  }

  private def ntz(t: Timestamp): Column =
    lit(t.toString.stripSuffix(".0")).cast("timestamp_ntz")
  private def ts(l: LocalDateTime): Timestamp = Timestamp.valueOf(l)
  private def now = new Timestamp(System.currentTimeMillis())
  private def batchId(d: Int) = f"B$d%04d"

  /** Seed the store: bronze and silver from the first fifth of the
    * history, silver's change feed on, the fact view built over silver
    * through the pinned dims, and a job_control record per stage. */
  def setup(r: Run, root: Path): State = {
    val spark = r.spark
    Measure.deleteTree(root) // synchronous: nothing deletes during the timed region
    val st = new TracedStore(spark, root, r)
    val jc = new JobControl(st)
    val txns = PaymentData.transactionsFrom(Inputs.orders(spark, r.seed, 1, r.cores * 2))
      .localCheckpoint()
    val span = txns.agg(min("updated_at"), max("updated_at")).head()
    val (lo, hi) = (span.getAs[LocalDateTime](0), span.getAs[LocalDateTime](1))
    val stepS = java.time.Duration.between(lo, hi).getSeconds / HistorySteps
    def at(i: Int) = if (i >= HistorySteps) hi else lo.plusSeconds(stepS * i)
    val cutoff = at(SeedSteps)
    val bounds = (SeedSteps + 1 to HistorySteps).map(at)

    def stamped(df: DataFrame, kind: String, version: Long) = PaymentJobs.stagingWithAudit(df)
      .withColumn("delta_change_type", lit(kind)).withColumn("delta_version", lit(version))
    // the seed tables and the pinned dims are independent: built side by side
    var dims: Seq[(String, DataFrame)] = Nil
    r.concurrently(Seq(
      () => {
        st.createBucketed(Bronze, stamped(txns.filter(col("updated_at") <= lit(cutoff)), "LOAD", 0L),
          keys = Seq("transaction_id"), n = 32)
        st.createBucketed(Silver, PaymentJobs.silverFromBronze(st.read(Bronze)),
          keys = Seq("transaction_id"), n = 32)
      },
      () => {
        // dims pinned from the whole history's silver, as the maintained
        // star of job_fact_star_incremental pins them
        val silverAll = PaymentJobs.silverFromBronze(stamped(txns, "LOAD", 0L)).localCheckpoint()
        dims = Seq(
          "dim_customer" -> PaymentJobs.dimCustomerCurrent(silverAll),
          "dim_merchant" -> PaymentJobs.dimMerchantCurrent(silverAll),
          "dim_payment_method" -> PaymentJobs.dimPaymentMethod(silverAll),
          "dim_status" -> PaymentJobs.dimStatus(silverAll),
          "dim_date" -> DateSpine.dimDate(spark, "1995-01-01", "2002-12-31"))
          .map { case (n, d) => n -> d.localCheckpoint() }
      }))
    val Seq(dc, dm, dp, ds, dd) = dims.map(_._2)
    val enrich = (df: DataFrame) => PaymentJobs.factStar(df, dc, dm, dp, ds, dd)
    st.setChangeFeed(Silver, enabled = true)
    val v0 = st.currentVersion(Silver)
    st.createBucketed(Fact, enrich(st.readVersion(Silver, v0)).withColumn("_live", lit(true)),
      keys = Seq("transaction_id"), n = 16)
    val seedRows = st.read(Bronze).agg(count(lit(1)), max("updated_at")).head()
    val wm = Some(ts(seedRows.getAs[LocalDateTime](1)))
    val n = seedRows.getLong(0)
    Seq("load_bronze" -> "bronze", "load_silver" -> "silver", "load_fact" -> "gold")
      .foreach { case (job, layer) =>
        jc.record(job, batchId(0), layer, "SUCCESS", now, now, wm, n, n, 0) }

    val choose = new Inputs.Choices(r.seed)
    val gdpr = bounds.indices.map(d => d -> f"USER_${choose.int(1000)}%04d").toMap
    new State(st, jc, txns, bounds, gdpr, dims, enrich, v0)
  }

  /** One daily batch; returns the rows it admitted. */
  def day(r: Run, s: State): Long = {
    require(s.day < s.bounds.size, s"history exhausted after ${s.day} days")
    val t = r.tracer
    val d = s.day
    val batch = batchId(d + 1)
    def record(job: String, layer: String, started: Timestamp, wm: Timestamp, n: Long): Unit =
      t.span("jobcontrol.record") {
        s.jc.record(job, batch, layer, "SUCCESS", started, now, Some(wm), n, n, 0)
      }
    var started = now
    val wm = t.span("jobcontrol.watermark")(s.jc.lastWatermark("load_bronze").get)
    val (staged, n, newWm) = t.span("jobs.staging") {
      val b = PaymentJobs.stagingWithAudit(s.txns.filter(
          col("updated_at") > ntz(wm) && col("updated_at") <= lit(s.bounds(d))))
        .withColumn("delta_change_type", lit("MERGE"))
        .withColumn("delta_version", lit(d + 1L))
        .localCheckpoint()
      val row = b.agg(count(lit(1)), max("updated_at")).head()
      (b, row.getLong(0), ts(row.getAs[LocalDateTime](1)))
    }
    t.span("jobs.bronze_load") {
      s.st.mergeUpsert(Bronze, staged, Seq("transaction_id", "updated_at"))
    }
    record("load_bronze", "bronze", started, newWm, n)
    started = now
    t.span("jobs.silver_load") {
      s.st.mergeUpsert(Silver, PaymentJobs.silverFromBronze(staged), Seq("transaction_id"))
    }
    record("load_silver", "silver", started, newWm, n)
    s.gdpr.get(d).foreach { customer =>
      started = now
      // both of its writes commit before it returns; the silver frame it
      // returns is not read here, so there is nothing left to materialize
      t.span("jobs.gdpr")(PaymentJobs.gdprDelete(s.st, customer))
      record("gdpr_delete", "silver", started, newWm, n)
    }
    started = now
    val cur = s.st.currentVersion(Silver)
    t.span("ivm.apply_join") {
      Ivm.applyJoinDelta(s.st, Fact, Silver, s.applied, cur, Seq("transaction_id"), s.enrich,
        txn = Some(("fact_ivm", d + 1L)))
    }
    s.applied = cur
    record("load_fact", "gold", started, newWm, n)
    s.admitted += staged
    s.day += 1
    n
  }

  private def sameRows(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.exceptAll(b).count(), b.exceptAll(a).count())

  /** The store's output checks, as independent parts. */
  def checks(r: Run, s: State): Seq[() => Unit] = {
    val st = s.st
    Seq(
      () => {
        val (f1, f2) = sameRows(Ivm.readJoinView(st, Fact), s.enrich(st.read(Silver)))
        r.check("fact = factStar(final silver, pinned dims)", f1 == 0 && f2 == 0,
          s"$f1 rows only in the maintained fact, $f2 only in the rebuild")
      },
      () => {
        // a GDPR-deleted id stays out of silver unless a later version of it
        // arrived after the delete: silver holds the latest non-deleted version
        val expected = PaymentJobs.silverFromBronze(st.read(Bronze)).filter(!col("is_deleted"))
        val (s1, s2) = sameRows(st.read(Silver), expected)
        val deleted = st.read(Bronze).filter(col("is_deleted")).select("transaction_id").distinct().count()
        r.check("silver = silverFromBronze(final bronze) minus GDPR-deleted ids", s1 == 0 && s2 == 0,
          s"$s1 rows only in silver, $s2 only in the rebuild; $deleted ids deleted")
      },
      () => {
        val wms = st.read("job_control").filter(col("status") === "SUCCESS")
          .select("job_name", "batch_id", "last_processed_timestamp").collect()
          .groupBy(_.getString(0)).map { case (job, rows) =>
            job -> rows.sortBy(_.getString(1)).map(_.getTimestamp(2).getTime).toSeq
          }
        val bad = wms.filter { case (_, ws) => ws.zip(ws.drop(1)).exists { case (a, b) => b <= a } }
        r.check("job_control watermarks only increase", bad.isEmpty,
          s"${wms.map { case (j, ws) => s"$j:${ws.size}" }.toSeq.sorted.mkString(" ")}" +
            (if (bad.isEmpty) "" else s"; not increasing: ${bad.keys.mkString(",")}"))
        r.note(s"days applied ${s.day}, GDPR deletes ${s.gdpr.keys.count(_ < s.day)}")
      })
  }

  /** write_amp over the bytes the days added; space_amp over the store. */
  def amplification(r: Run, s: State, root: Path, written: Long): Unit = {
    val admittedBytes = Measure.parquetBytes(r, "admitted", s.admitted.reduce(_ unionByName _))
    val storeBytes = Measure.bytesUnder(root)
    val liveBytes = s.st.tableNames.map(t => Measure.parquetBytes(r, s"live_$t", s.st.read(t))).sum
    r.writeAmp = (written.toDouble / admittedBytes, written, admittedBytes)
    r.spaceAmp = (storeBytes.toDouble / liveBytes, storeBytes, liveBytes)
    Measure.storeState(r, s.st, root)
  }
}
