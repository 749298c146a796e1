package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's pure pieces: order statistics, span arithmetic,
  * call-site attribution and the seeded input generator. */
class HarnessSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the sample with exactly ten beyond it, at its percentile") {
    val xs = (1 to 40).map(_.toDouble)
    val (v, pct, n) = Stats.tail(xs)
    assert(n == 40)
    assert(v == 30.0)                       // 31..40 lie beyond it
    assert(xs.count(_ > v) == 10)
    assert(pct == 75.0)                     // 30 of 40 at or below
  }

  test("tail with eleven samples is the smallest; with ten or fewer, the largest at p100") {
    assert(Stats.tail((1 to 11).map(_.toDouble)) == ((1.0, 100.0 / 11, 11)))
    assert(Stats.tail(Seq(5.0, 9.0, 7.0)) == ((9.0, 100.0, 3)))
  }

  test("tail op_n grows the percentile toward the top") {
    val (_, p100, _) = Stats.tail((1 to 100).map(_.toDouble))
    val (_, p1000, _) = Stats.tail((1 to 1000).map(_.toDouble))
    assert(p100 == 90.0 && p1000 == 99.0)
  }

  test("covered merges overlapping intervals and clips to the window") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Trace.covered(Nil, 0L, 10L) == 0L)
  }

  test("self time is duration minus the time children cover") {
    val spans = Seq(
      Span(0, "op.day", -1, 0, 0L, 100L),
      Span(1, "jobs.bronze_load", 0, 0, 10L, 50L),
      Span(2, "tablestore.merge_upsert", 1, 0, 20L, 45L),
      Span(3, "jobcontrol.record", 0, 0, 60L, 70L))
    val self = Trace.selfNanos(spans)
    assert(self == Map(0 -> 50L, 1 -> 15L, 2 -> 25L, 3 -> 10L))
    // self times of a tree add up to its root's duration
    assert(self.values.sum == 100L)
    val byName = Trace.byName(spans ++ Seq(Span(4, "jobcontrol.record", 0, 0, 80L, 90L)))
    assert(byName("jobcontrol.record") == ((20L / 1e9, 2)))
  }

  test("tracer records nesting, op ids and nothing when off") {
    val t = new Tracer(true)
    t.opSpan(7, "op.x") { t.span("a")(t.span("b")(())); t.span("c")(()) }
    assert(t.spans.map(s => (s.name, s.parent, s.op)) ==
      Seq(("op.x", -1, 7), ("a", 0, 7), ("b", 1, 7), ("c", 0, 7)))
    assert(t.spans.forall(s => s.end >= s.start))
    val off = new Tracer(false)
    assert(off.span("a")(42) == 42 && off.spans.isEmpty)
  }

  test("ending a span closes the spans still open inside it") {
    val t = new Tracer(true)
    val op = t.begin("op.x")
    t.begin("a")
    t.begin("b")
    t.end(op)
    assert(t.spans.map(_.end).distinct.size == 1 && t.spans.forall(_.end >= 0))
    assert(t.innermost.isEmpty)
    t.end(op) // already closed: nothing happens
    assert(t.spans.size == 3)
  }

  test("the orchestrator clock opens a span per job and per record, named from job_control order") {
    val t = new Tracer(true)
    val clock = new Medallion.StageClock(t)
    t.opSpan(0, "op.medallion") {
      (1 to 3).foreach { _ => clock(); t.span("tablestore.create")(()); clock() }
    }
    val jobs = clock.finish()
    assert(t.spans.map(s => (s.name, s.parent)) == Seq(
      ("op.medallion", -1), ("jobs.job", 0), ("tablestore.create", 1), ("jobcontrol.record", 0),
      ("jobs.job", 0), ("tablestore.create", 4), ("jobcontrol.record", 0),
      ("jobs.job", 0), ("tablestore.create", 7), ("jobcontrol.record", 0)))
    assert(jobs == Seq(1, 4, 7))
    // each record runs from a job's completion to the next job's start
    assert(t.spans(3).start >= t.spans(1).end && t.spans(4).start >= t.spans(3).end)
    // the last record closes with the op
    assert(t.spans(9).end == t.spans(0).end)
    jobs.zip(Seq("jobs.staging", "jobs.bronze_load", "jobs.silver_load")).foreach {
      case (id, n) => t.rename(id, n) }
    assert(t.spans.map(_.name).count(_.startsWith("jobs.")) == 3 && t.spans(4).name == "jobs.bronze_load")
    val off = new Tracer(false)
    val quiet = new Medallion.StageClock(off)
    quiet(); quiet()
    assert(off.spans.isEmpty && quiet.finish().isEmpty)
  }

  test("module is the package of the first program frame in the call site") {
    val site =
      """org.apache.spark.sql.Dataset.collect(Dataset.scala:10)
        |perfbench.Incremental$.day(Incremental.scala:5)
        |graft.core.TableStore.mergeUpsert(TableStore.scala:2950)
        |graft.jobs.PaymentJobs$.bronzeLoad(PaymentJobs.scala:120)""".stripMargin
    assert(Trace.moduleOf(site) == "core")
    assert(Trace.moduleOf("graft.ops.Ivm$.applyJoinDeltaFeed(Ivm.scala:1)") == "ops")
    assert(Trace.moduleOf("at graft.sources.GraftCatalog.loadTable(GraftCatalog.scala:3)") == "sources")
    assert(Trace.moduleOf("graft.Tables$.orders(Tables.scala:21)") == "other")
    assert(Trace.moduleOf("java.base/java.lang.Thread.run(Thread.java:840)") == "none")
    assert(Trace.moduleOf(null) == "none")
  }

  test("the seed alone determines the inputs") {
    val a = (0 until 1000).map(i => Inputs.order(42L, i, 0))
    assert(a == (0 until 1000).map(i => Inputs.order(42L, i, 0)))
    assert(a != (0 until 1000).map(i => Inputs.order(43L, i, 0)))
    val c1 = new Inputs.Choices(9L)
    val c2 = new Inputs.Choices(9L)
    assert(Seq.fill(20)(c1.int(1000)) == Seq.fill(20)(c2.int(1000)))
    assert(c1.shuffle(1 to 10) == c2.shuffle(1 to 10))
  }

  test("replicas share everything but the key, and keys stay disjoint") {
    val o0 = Inputs.order(1L, 123, 0)
    val o3 = Inputs.order(1L, 123, 3)
    assert(o3 == o0.copy(o_orderkey = 123 + 3 * Inputs.ReplicaStride))
    val all = (0 until 2000).map(i => Inputs.order(5L, i, 0))
    assert(all.forall(o => o.o_custkey >= 0 && o.o_custkey < Inputs.Customers))
    assert(all.forall(o => o.o_totalprice >= 1000.0 && o.o_totalprice < 500000.0))
    assert(all.forall(o => !o.o_orderdate.toLocalDate.isBefore(Inputs.FirstDay) &&
      o.o_orderdate.toLocalDate.isBefore(Inputs.FirstDay.plusDays(Inputs.DaySpan))))
  }

  test("expected medallion counts follow the residue rules") {
    // the counts runDaily produced at one and two replicas
    assert(Medallion.expected(1) == Medallion.Expected(154995, 7532, 145425, 141088, 135674))
    assert(Medallion.expected(2) == Medallion.Expected(309990, 15065, 290850, 282176, 271323))
  }
}
