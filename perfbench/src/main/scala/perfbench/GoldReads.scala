package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TableStore

/** The read round that ends each `incremental_days` unit, over the
  * store the days keep writing (many versions, DV sidecars, small
  * dirs). The star queries join graft.fact to the pinned dims, which
  * are registered as views of their in-memory frames. Query pools are
  * drawn from the seed. A round is six queries in a seeded order: one
  * `star` (SQL star aggregate over graft.fact and the dims), two `point`
  * (SQL transaction_id lookups), one SQL `asof` (VERSION AS OF) and one
  * library `asof` (TableStore.readVersion) at seeded versions, and one
  * `changes` (readChangesBetween over a seeded window). Each query is
  * timed, and spanned, through a digest action over its full result. A
  * query over the current fact records the fact version it read, so the
  * checks can rebuild that snapshot. */
final class GoldReads(r: Run, s: Incremental.State) {
  import GoldReads._

  private val st = s.st
  s.dims.foreach { case (n, d) => d.createOrReplaceTempView(n) }
  private val pools = queries(r, s)
  private val choose = new Inputs.Choices(r.seed ^ 0x60D)
  /** label@fact version -> (query, fact version, digest) */
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, (Q, Long, Measure.Digest)]

  // one untimed query of each class: the JIT and codegen warm-up
  pools.values.foreach(p => Measure.digest(execute(r, st, p.head)))
  r.spark.catalog.clearCache()

  def round(): Unit = {
    def pick(p: String) = pools(p)(choose.int(pools(p).size))
    val qs = Seq(pick("star"), pick("point"), pick("point"), pick("asof_sql"), pick("asof_lib"),
      pick("changes"))
    choose.shuffle(qs).foreach { q =>
      val factV = st.currentVersion(Incremental.Fact)
      q match {
        case p: SqlQ if p.cls == "point" && r.traced =>
          val (scanned, total) = st.pruneCount(Incremental.Fact, col("transaction_id").isin(p.keys: _*))
          r.count("pruning.dirs_scanned", scanned)
          r.count("pruning.dirs_total", total)
        case _ =>
      }
      r.op(q.cls) {
        val d = r.tracer.span(spanOf(q))(Measure.digest(execute(r, st, q)))
        val key = s"${q.label}@fact v$factV"
        recorded.get(key).foreach { case (_, _, prev) =>
          if (prev != d) r.check(s"repeatable $key", ok = false, s"$prev then $d") }
        recorded(key) = (q, factV, d)
        d.rows
      }
    }
  }

  /** Every distinct query against plain Spark over Parquet copies of
    * the snapshots it read. */
  def checks(): Unit = {
    val spark = r.spark
    val copies = scala.collection.mutable.Map.empty[(String, Long), DataFrame]
    def copy(t: String, v: Long): DataFrame = copies.getOrElseUpdate((t, v), {
      val p = r.work.resolve("check").resolve(s"copy_${t}_v$v")
      Measure.deleteTree(p)
      st.readVersion(t, v).coalesce(r.cores).write.parquet(p.toString)
      spark.read.parquet(p.toString)
    })
    var bad = 0
    recorded.values.foreach { case (q, factV, got) =>
      def plainRef(t: String, v: Option[Long]): String = if (t.startsWith("dim_")) t else {
        val ver = v.getOrElse(if (t == Incremental.Fact) factV else st.currentVersion(t))
        val view = s"plain_${t}_v$ver"
        copy(t, ver).createOrReplaceTempView(view)
        view
      }
      val want = q match {
        case sq: SqlQ => Measure.digest(spark.sql(sq.text(plainRef)))
        case AsOfLib(v) => Measure.digest(copy(Silver, v))
        case Changes(a, b) =>
          if (!changesMatchSnapshots(st, a, b, copy(Silver, _))) bad += 1
          Measure.digest(st.readChangesBetween(Silver, a, b))
      }
      if (want != got) {
        bad += 1
        System.err.println(s"[perfbench] ${q.label}@fact v$factV: program $got, plain $want")
      }
    }
    r.check("read digests = plain Spark over Parquet copies", bad == 0 && recorded.nonEmpty,
      s"${recorded.size - bad} of ${recorded.size} distinct queries match")
  }
}

object GoldReads {

  val PointKeys = 8

  /** A query of the mix: run through the program in the timed region,
    * and by plain Spark over Parquet copies in the checks. */
  sealed trait Q { def cls: String; def label: String }
  /** SQL text over table references: `ref(table, version)`. */
  final case class SqlQ(cls: String, label: String, span: String,
                        text: ((String, Option[Long]) => String) => String,
                        keys: Seq[String] = Nil) extends Q
  final case class AsOfLib(v: Long) extends Q {
    def cls = "asof"; def label = s"asof_lib@v$v"
  }
  final case class Changes(from: Long, to: Long) extends Q {
    def cls = "changes"; def label = s"changes(v$from,v$to]"
  }

  private val Silver = Incremental.Silver

  private def spanOf(q: Q): String = q match {
    case s: SqlQ => s.span
    case _: AsOfLib => "tablestore.read_version"
    case _: Changes => "tablestore.read_changes"
  }

  private def graftRef(t: String, v: Option[Long]): String =
    if (t.startsWith("dim_")) t else s"graft.$t" + v.map(x => s" VERSION AS OF $x").getOrElse("")

  private def execute(r: Run, st: TableStore, q: Q): DataFrame = q match {
    case s: SqlQ => r.spark.sql(s.text(graftRef))
    case AsOfLib(v) => st.readVersion(Silver, v)
    case Changes(a, b) => st.readChangesBetween(Silver, a, b)
  }

  /** The seeded query pools. */
  def queries(r: Run, s: Incremental.State): Map[String, IndexedSeq[Q]] = {
    val silverNow = s.applied
    val choose = new Inputs.Choices(r.seed ^ 0x9E7)
    def window(): (String, String) = {
      val start = Inputs.FirstDay.plusDays(choose.int(Inputs.DaySpan - 400))
      (start.toString, start.plusDays(365).toString)
    }
    def where(ref: String, w: (String, String)) =
      s"""$ref._live AND $ref.transaction_timestamp >= TIMESTAMP_NTZ '${w._1} 00:00:00'
         | AND $ref.transaction_timestamp < TIMESTAMP_NTZ '${w._2} 00:00:00'""".stripMargin
    val stars = IndexedSeq[((String, Option[Long]) => String, (String, String)) => String](
      (ref, w) => s"""SELECT c.customer_tier, count(*) AS n, count(DISTINCT f.transaction_id) AS txns,
                     |  sum(CAST(f.amount AS DECIMAL(18,2))) AS amount
                     |FROM ${ref("fact", None)} f
                     |JOIN ${ref("dim_customer", None)} c ON f.customer_key = c.customer_key
                     |WHERE ${where("f", w)} GROUP BY c.customer_tier""".stripMargin,
      (ref, w) => s"""SELECT p.payment_method, p.is_digital, count(*) AS n, count(DISTINCT f.transaction_id) AS txns,
                     |  sum(CAST(f.net_customer_amount AS DECIMAL(18,2))) AS net
                     |FROM ${ref("fact", None)} f
                     |JOIN ${ref("dim_payment_method", None)} p ON f.payment_method_key = p.payment_method_key
                     |WHERE ${where("f", w)} GROUP BY p.payment_method, p.is_digital""".stripMargin,
      (ref, w) => s"""SELECT s.transaction_status, year(d.full_date) AS yr, count(*) AS n, count(DISTINCT f.transaction_id) AS txns,
                     |  sum(CAST(f.amount AS DECIMAL(18,2))) AS amount
                     |FROM ${ref("fact", None)} f
                     |JOIN ${ref("dim_status", None)} s ON f.status_key = s.status_key
                     |JOIN ${ref("dim_date", None)} d ON f.date_key = d.date_key
                     |WHERE ${where("f", w)} GROUP BY s.transaction_status, year(d.full_date)""".stripMargin,
      (ref, w) => s"""SELECT m.category, m.location_type, count(*) AS n, count(DISTINCT f.transaction_id) AS txns,
                     |  sum(CAST(f.gateway_revenue AS DECIMAL(18,4))) AS revenue
                     |FROM ${ref("fact", None)} f
                     |JOIN ${ref("dim_merchant", None)} m ON f.merchant_key = m.merchant_key
                     |WHERE ${where("f", w)} GROUP BY m.category, m.location_type""".stripMargin)
    val star = stars.indices.map { i =>
      val w = window()
      SqlQ("star", s"star$i[${w._1}]", "sources.sql_star", ref => stars(i)(ref, w))
    }
    val point = (0 until 12).map { i =>
      val keys = Seq.fill(PointKeys)(s"TXN_${choose.int(Inputs.BaseOrders)}")
      SqlQ("point", s"point$i", "sources.sql_point",
        ref => s"SELECT * FROM ${ref("fact", None)} WHERE transaction_id IN " +
          keys.map(k => s"'$k'").mkString("(", ", ", ")"), keys)
    }
    val versions = (0 until 3).map(_ => 1L + choose.long(silverNow))
    val asofSql = versions.map { v =>
      SqlQ("asof", s"asof_sql@v$v", "sources.sql_asof",
        ref => s"""SELECT count(*) AS n, sum(CAST(amount AS DECIMAL(18,2))) AS amount,
                  |  count(DISTINCT customer_id) AS customers, max(updated_at) AS wm
                  |FROM ${ref(Silver, Some(v))}""".stripMargin)
    }
    val asofLib = versions.map(v => AsOfLib(v))
    // change windows over the versions committed since the feed was on
    val changes = (0 until 3).map { _ =>
      val a = s.feedFrom + choose.long(silverNow - s.feedFrom)
      Changes(a, (a + 1 + choose.long(2)) min silverNow)
    }
    Map("star" -> star, "point" -> point, "asof_sql" -> asofSql,
      "asof_lib" -> asofLib, "changes" -> changes)
  }

  /** The change feed of (a, b] nets out, per version, to exactly the
    * rows that differ between consecutive snapshots. */
  private def changesMatchSnapshots(st: TableStore, a: Long, b: Long,
                                    snap: Long => DataFrame): Boolean = {
    val feed = st.readChangesBetween(Silver, a, b)
    val cols = st.schemaOf(Silver).fieldNames.toSeq.map(c => col(s"`$c`"))
    val plus = col("_change_type").isin("insert", "update_postimage")
    (a + 1 to b).forall { v =>
      val atV = feed.filter(col("_commit_version") === v)
      val fp = atV.filter(plus).select(cols: _*)
      val fm = atV.filter(!plus).select(cols: _*)
      val (cur, prev) = (snap(v).select(cols: _*), snap(v - 1).select(cols: _*))
      Measure.digest(fp.exceptAll(fm)) == Measure.digest(cur.exceptAll(prev)) &&
        Measure.digest(fm.exceptAll(fp)) == Measure.digest(prev.exceptAll(cur))
    }
  }
}
