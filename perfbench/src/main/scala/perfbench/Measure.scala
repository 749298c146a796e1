package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TableStore

/** Measurements taken from outside the program: store-root listings,
  * table versions through TableStore's public API, result digests. */
object Measure {

  /** Every regular file under a root: relative path -> (size, mtime). */
  final case class Listing(files: Map[String, (Long, Long)]) {
    def bytes: Long = files.valuesIterator.map(_._1).sum
    def dvFiles: Int = files.keysIterator.count(p => p.contains("/_dv/") && p.endsWith(".parquet"))
    /** Files new or rewritten since `before`: (count, bytes). */
    def addedSince(before: Listing): (Int, Long) = {
      val added = files.filter { case (p, v) => !before.files.get(p).contains(v) }
      (added.size, added.valuesIterator.map(_._1).sum)
    }
  }

  def list(root: Path): Listing =
    if (!Files.isDirectory(root)) Listing(Map.empty)
    else {
      val s = Files.walk(root)
      try Listing(s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap)
      finally s.close()
    }

  /** Bytes of every regular file under a root. */
  def bytesUnder(root: Path): Long = list(root).bytes

  /** Table -> current version, through the public API. */
  def versions(st: TableStore): Map[String, Long] =
    st.tableNames.map(t => t -> st.currentVersion(t)).toMap

  /** Commits between two version maps; a new table counts its v0. */
  def commits(before: Map[String, Long], after: Map[String, Long]): Long =
    after.map { case (t, v) => v - before.getOrElse(t, -1L) }.sum

  /** Order-independent digest of a frame: (rows, sum of row hashes). */
  final case class Digest(rows: Long, hash: java.math.BigDecimal) {
    override def toString: String = s"$rows/$hash"
  }

  def digest(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteTree(p: Path): Unit = graft.core.FsUtil.deleteRecursively(p.toFile)

  /** Bytes of `df` written once as plain Parquet under the run's check dir. */
  def parquetBytes(r: Run, name: String, df: DataFrame): Long = {
    val p = r.work.resolve("check").resolve(name)
    deleteTree(p)
    df.coalesce(r.cores).write.parquet(p.toString)
    bytesUnder(p)
  }

  /** Store state the per-layer report reads at the end of a run. */
  def storeState(r: Run, st: TableStore, root: Path): Unit = {
    r.count("tablestore.live_dirs", st.tableNames.map(st.liveDirCount).sum.toDouble)
    r.count("tablestore.dv_files", list(root).dvFiles.toDouble)
  }
}
