package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.TableStore

/** The program's TableStore, with a span around each write call that
  * reaches it from outside (calls the store makes to itself stay inside
  * the outer span). Every workload runs its ops through this one class:
  * in an untraced unit the tracer is off and each call goes straight to
  * the store, so traced and untraced units run the same program code.
  *
  * The store-root file, byte and `_dv` deltas of a span are taken just
  * outside it, in `trace.walk` spans, so the listing walk is billed
  * neither to the layer nor to the caller's self time. All five calls
  * commit before they return, so a span holds the whole write. */
final class TracedStore(spark: SparkSession, root: Path, run: Run)
    extends TableStore(spark, root.toString) {

  private def traced[T](name: String)(body: => T): T = {
    val t = run.tracer
    if (!t.on || t.innermost.exists(_.startsWith("tablestore."))) body
    else {
      val l0 = t.span("trace.walk")(Measure.list(root))
      try t.span(name)(body)
      finally t.span("trace.walk") {
        val l1 = Measure.list(root)
        val (files, bytes) = l1.addedSince(l0)
        run.count(s"span.$name.files", files.toDouble)
        run.count(s"span.$name.bytes", bytes.toDouble)
        run.count(s"span.$name.dv_files", (l1.dvFiles - l0.dvFiles).toDouble)
      }
    }
  }

  override def create(name: String, df: DataFrame): Unit =
    traced("tablestore.create")(super.create(name, df))

  override def createBucketed(name: String, df: DataFrame, keys: Seq[String], n: Int): Unit =
    traced("tablestore.create")(super.createBucketed(name, df, keys, n))

  override def mergeUpsert(name: String, source: DataFrame, keys: Seq[String],
                           matchedChangeType: String, insertChangeType: String,
                           changeTypeCol: Option[String], verifyUniqueSource: Boolean,
                           sourceProvided: Option[Set[String]], txn: Option[(String, Long)],
                           extraTxns: Seq[(String, Long)],
                           precomputedBuckets: Option[(String, Set[Int])]): Unit =
    traced("tablestore.merge_upsert")(super.mergeUpsert(name, source, keys, matchedChangeType,
      insertChangeType, changeTypeCol, verifyUniqueSource, sourceProvided, txn, extraTxns,
      precomputedBuckets))

  override def updateVectorized(name: String, condition: Column, set: Map[String, Column]): Unit =
    traced("tablestore.update_vectorized")(super.updateVectorized(name, condition, set))

  override def mergeDelete(name: String, keysDf: DataFrame, keys: Seq[String],
                           expectedVersion: Option[Long]): Unit =
    traced("tablestore.merge_delete")(super.mergeDelete(name, keysDf, keys, expectedVersion))
}
