package perfbench

import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.core.TableStore
import graft.jobs.{Orchestrator, PaymentData}

/** `medallion_full`: one op is `Orchestrator.runDaily` over the whole
  * input into a freshly cleared store. Volume-bound: validation, dedup,
  * aggregation, the broadcast star and bulk bucketed writes, over a
  * handful of commits. Set-up runs the same chain once, untimed, over
  * half the orders, so most JIT and codegen warm-up stays out of the
  * timed op (its plans read pinned frames, so they match the timed op's
  * and reuse its generated code). A traced unit runs the same call: its
  * spans come from the store ([[TracedStore]]) and the clock
  * ([[StageClock]]) the harness hands to the program. */
object Medallion {

  /** sf0.1 orders once (~145 K bronze rows). Replicas with disjoint
    * keys scale it: 10 gives the reference's ~1.45 M rows. */
  val Replicas = 1
  val Batch = "BATCH_0001"

  def run(r: Run): Unit = {
    val spark = r.spark
    val root = r.work.resolve("store")
    val txns = r.setupTimed(
      PaymentData.transactionsFrom(Inputs.orders(spark, r.seed, Replicas, r.cores * 4))
        .localCheckpoint())
    val expect = expected(Replicas)
    val clock = new StageClock(r.tracer)
    r.setupTimed {
      Measure.deleteTree(root)
      val half = PaymentData.transactionsFrom(Inputs.orders(spark, r.seed, Replicas, r.cores * 4)
        .limit(Inputs.BaseOrders / 2)).localCheckpoint()
      new Orchestrator(new TracedStore(spark, root, r), clock).runDaily(half, Batch)
      spark.catalog.clearCache()
    }
    var st: TableStore = null
    r.loop(unitSeconds = 12) {
      Measure.deleteTree(root) // synchronous: nothing deletes during the timed region
      st = new TracedStore(spark, root, r)
      r.store = Some((st, root))
      r.op("medallion") {
        new Orchestrator(st, clock).runDaily(txns, Batch)
        expect.admitted
      }
      val jobs = clock.finish()
      if (r.traced) nameJobs(r.tracer, st, jobs)
    }
    if (st == null) return
    if (r.plant) st.delete("silver_transactions",
      col("transaction_id") === st.read("silver_transactions").select("transaction_id").head().getString(0))

    // output checks (counts implied by PaymentData's residue rules) and
    // amplification (the last op's store against its input), side by side
    r.concurrently(Seq(() => checks(r, st, expect), () => {
      if (r.trace) Measure.storeState(r, st, root)
      else {
        val storeBytes = Measure.bytesUnder(root)
        val admittedBytes = Measure.parquetBytes(r, "admitted",
          st.read("bronze_transactions").drop("delta_change_type", "delta_version"))
        val liveBytes = st.tableNames.map(t => Measure.parquetBytes(r, s"live_$t", st.read(t))).sum
        r.writeAmp = (storeBytes.toDouble / admittedBytes, storeBytes, admittedBytes)
        r.spaceAmp = (storeBytes.toDouble / liveBytes, storeBytes, liveBytes)
        Measure.storeState(r, st, root)
      }
    }))
  }

  def checks(r: Run, st: TableStore, expect: Expected): Unit = {
    val jc = st.read("job_control").filter(col("batch_id") === Batch && col("status") === "SUCCESS")
      .select("job_name", "records_read", "records_written", "records_quarantined").collect()
      .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2), row.getLong(3))).toMap
    def got(job: String) = jc.getOrElse(job, (-1L, -1L, -1L))
    r.check("validate_bronze counts",
      got("validate_bronze") == ((expect.txns, expect.admitted, expect.quarantined)),
      s"(read, staged, quarantined) ${got("validate_bronze")} vs expected " +
        s"(${expect.txns}, ${expect.admitted}, ${expect.quarantined})")
    val bronzeRows = st.read("bronze_transactions").count()
    val silverRows = st.read("silver_transactions").count()
    r.check("bronze rows", bronzeRows == expect.admitted && got("load_bronze")._2 == expect.admitted,
      s"table $bronzeRows, job_control ${got("load_bronze")._2}, expected ${expect.admitted}")
    r.check("silver rows", silverRows == expect.silver && got("load_silver")._2 == expect.silver,
      s"table $silverRows, job_control ${got("load_silver")._2}, expected ${expect.silver}")
    r.check("fact rows", got("load_fact")._2 == expect.fact,
      s"job_control ${got("load_fact")._2}, expected ${expect.fact}")
  }

  final case class Expected(txns: Long, quarantined: Long, admitted: Long,
                            silver: Long, fact: Long)

  /** Row counts the planted-defect rules imply for the replicated keys,
    * computed from the keys alone (not through the program):
    * Tier-1 fatal k%101 in {7,13,29,41,43} is quarantined; k%50==0
    * non-fatal adds a CDC version; k%70==0 adds an exact duplicate (its
    * fatal copies are quarantined too, the rest deduped); k%101==37
    * fails Tier-2 and stays out of silver; merchants k%520>=500 stay
    * out of the fact. */
  def expected(replicas: Int): Expected = {
    var all, fatal, v2, dup, dupFatal, silver, fact = 0L
    for (r <- 0 until replicas; i <- 0 until Inputs.BaseOrders) {
      val k = i + r * Inputs.ReplicaStride
      val f = Set(7L, 13L, 29L, 41L, 43L).contains(k % 101)
      all += 1
      if (f) fatal += 1
      if (k % 50 == 0 && !f) v2 += 1
      if (k % 70 == 0) { dup += 1; if (f) dupFatal += 1 }
      if (!f && k % 101 != 37) { silver += 1; if (k % 520 < 500) fact += 1 }
    }
    Expected(all + v2 + dup, fatal + dupFatal, all - fatal + v2, silver, fact)
  }

  /** runDaily's job_control names, as their spans are reported. */
  val StageSpans: Map[String, String] = Map(
    "validate_bronze" -> "jobs.staging", "load_bronze" -> "jobs.bronze_load",
    "load_silver" -> "jobs.silver_load", "load_fact" -> "jobs.gold_fact")

  /** The clock `Orchestrator` takes. `runJob` reads it when a job starts
    * and again when the job completes, just before its job_control
    * record; in a traced unit those reads open and close one span per
    * job, and one `jobcontrol.record` span from each completion to the
    * next job's start (or to the end of the op). Each job's span so
    * holds its body and the action that materializes its result. The
    * jobs' names are not known to the clock; [[nameJobs]] sets them
    * from job_control once the op is done. */
  final class StageClock(t: Tracer) extends (() => Timestamp) {
    private var open = -1
    private var inJob = false
    private val jobs = ArrayBuffer.empty[Int]

    def apply(): Timestamp = {
      if (t.on) {
        t.end(open)
        open = t.begin(if (inJob) "jobcontrol.record" else "jobs.job")
        if (!inJob) jobs += open
        inJob = !inJob
      }
      Timestamp.from(Instant.now())
    }

    /** Close what is still open; returns the job spans in start order. */
    def finish(): Seq[Int] = {
      t.end(open)
      open = -1
      inJob = false
      try jobs.toSeq finally jobs.clear()
    }
  }

  /** Name the job spans of a traced op after its job_control rows, in
    * the order the jobs started. */
  def nameJobs(t: Tracer, st: TableStore, spans: Seq[Int]): Unit = {
    val jobs = st.read("job_control").filter(col("batch_id") === Batch)
      .orderBy("started_at").select("job_name").collect().map(_.getString(0))
    spans.zip(jobs).foreach { case (id, job) => t.rename(id, StageSpans.getOrElse(job, s"jobs.$job")) }
  }
}
