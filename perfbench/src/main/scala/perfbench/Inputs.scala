package perfbench

import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs. The program under test only ever sees what is built
  * here from the seed: an orders-shaped frame shaped like the TPC-H
  * sf0.1 `orders` slice the jobs were written against (dense keys
  * 0..149999, 15000 customer keys, order dates 1995-01-01..2001-08-01,
  * prices 1000..500000), fed through `PaymentData.transactionsFrom`.
  * Defects are planted by key residue inside that generator, so the
  * defect mix is the same for every seed; the seed moves customers,
  * dates and prices, and every choice the workloads make. */
object Inputs {

  val BaseOrders = 150000
  val Customers = 15000
  val FirstDay: LocalDate = LocalDate.of(1995, 1, 1)
  val DaySpan = 2404 // 1995-01-01 .. 2001-08-01
  /** Key offset between replicas: disjoint keys, as the scale probes do. */
  val ReplicaStride = 100000000L

  final case class Order(o_orderkey: Long, o_custkey: Long,
                         o_orderdate: LocalDateTime, o_totalprice: Double)

  /** SplitMix64 finalizer: a well-mixed 64-bit hash. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def draw(seed: Long, i: Long, field: Int, n: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 31 + field) + i), n)

  /** Order `i` of replica `r`: replicas share customer, date and price
    * and differ only in key. */
  def order(seed: Long, i: Long, r: Int): Order = Order(
    i + r * ReplicaStride,
    draw(seed, i, 1, Customers),
    FirstDay.plusDays(draw(seed, i, 2, DaySpan)).atStartOfDay(),
    (100000 + draw(seed, i, 3, 49900000)) / 100.0)

  def orders(spark: SparkSession, seed: Long, replicas: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, BaseOrders.toLong * replicas, 1L, parts).as[Long]
      .map(id => order(seed, id % BaseOrders, (id / BaseOrders).toInt))
      .toDF()
  }

  /** Seeded choices made outside Spark (GDPR customers, lookup keys, versions ...). */
  final class Choices(seed: Long) {
    private val rnd = new java.util.SplittableRandom(mix(seed ^ 0x5EEDL))
    def int(n: Int): Int = rnd.nextInt(n)
    def long(n: Long): Long = rnd.nextLong(n)
    def shuffle[T: scala.reflect.ClassTag](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toSeq
    }
  }
}
