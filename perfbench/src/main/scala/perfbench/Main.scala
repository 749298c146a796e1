package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point. run.py builds the program and
  * starts this in a forked JVM with the program's JVM options:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cores <n> --heap <m> --source <digest>
  *                  --commit <id> [--plant 1]
  *
  * It prints the metric lines, one line of run facts, and last the
  * result object. `--plant 1` corrupts the workload's output after the
  * timed region, before the checks, to show that the checks catch it. */
object Main {

  val Workloads: Map[String, Run => Unit] = Map(
    "medallion_full" -> Medallion.run,
    "incremental_days" -> Incremental.run)

  /** Spark confs pinned for every run (those Bench.scala pins, plus the
    * run's working directories). */
  def confs(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.sql.catalog.graft" -> "graft.sources.GraftCatalog",
    "spark.sql.catalog.graft.root" -> work.resolve("store").toString)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val body = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val work = Paths.get(arg("work")).toAbsolutePath
    val plant = a.get("plant").contains("1")

    // ---- set-up: session start and warm-up ----
    val t0 = System.nanoTime()
    Measure.deleteTree(work)
    Files.createDirectories(work)
    val cs = confs(cores, work)
    val spark = cs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, workload, seed, seconds, cores, work, trace, plant)
    try body(run)
    catch {
      case e: Throwable =>
        run.failed += 1
        run.check("workload", ok = false, e.toString)
        e.printStackTrace()
    }
    val rssMb = Measure.peakRssMb()
    if (run.loopEnd > 0) run.info += f"checks and measurement took ${(System.nanoTime() - run.loopEnd) / 1e9}%.1f s"

    val facts = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"), "commit" -> a.getOrElse("commit", "none"),
      "source" -> a.getOrElse("source", "unknown"),
      "nproc" -> cores.toString, "heap" -> a.getOrElse("heap", "unknown"),
      "java" -> System.getProperty("java.version"), "spark" -> spark.version) ++
      cs.filterNot { case (k, _) => k.startsWith("spark.local") || k.contains("dir") || k.endsWith(".root") }
    val report = new Report(run, sessionS, rssMb)
    val metrics = if (trace) report.perLayer() else report.endToEnd()
    report.lines(metrics).foreach(println)
    report.classLines(trace).foreach(println)
    run.info.foreach(l => println(s"# $l"))
    run.checks.foreach { case (n, ok, d) => println(s"# check ${if (ok) "ok  " else "FAIL"} $n: $d") }
    println("# run " + facts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    if (trace) {
      val out = work.getParent.resolve("trace").resolve(s"$workload-seed$seed.jsonl")
      Files.createDirectories(out.getParent)
      Files.write(out, Trace.toJsonLines(run.tracer.spans.toSeq, run.tracer.spans.headOption
        .map(_.start).getOrElse(0L)).asJava, StandardCharsets.UTF_8)
      println(s"# spans ${run.tracer.spans.size} written to ${work.getParent.getFileName}/trace/${out.getFileName}")
    }
    val correct = run.checks.nonEmpty && run.checks.forall(_._2) && run.failed == 0
    println(report.json(correct, metrics))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
