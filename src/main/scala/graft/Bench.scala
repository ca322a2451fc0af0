package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"reps":R,"sf":...}.
  *
  * Each query is forced through a noop sink (full materialization of every
  * output column) rather than count() — count lets Spark skip column
  * evaluation and would under-report the real work.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the per-query MINIMUM: co-tenant host load inflated whole-suite
  * wall time by ~11% between rounds 4 and 5, and the minimum is the
  * standard load-robust point estimate (noise on a deterministic
  * workload is strictly additive). Methodology note for cross-round
  * reads: rounds ≤ 5 were single-run (load noise included), round 6+
  * is min-of-3 (warm page cache on reps 2-3) — compare totals across
  * that boundary with the ~10% methodology delta in mind; the `reps`
  * field in the output line marks which regime a number came from.
  *
  * Round 7+: the bench list IS the query list — every SparkEntry query
  * is timed, so a plan regression anywhere is visible in the per-query
  * deltas, not just in the 60-query headline subset. */
object Bench {

  /** Every driver-checkable query, timed in stable (sorted) order. */
  def headline: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** 1/5/15-minute load averages, or empty when unreadable — recorded
    * BEFORE and AFTER the run so "measured on an idle host" is evidence
    * in the artifact, not a label (host-load inflation was adjudicated
    * in rounds 9/10/12/13; a uniform multiplier across unrelated tiny
    * queries is its signature). */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(' ').take(3).mkString(",")
    catch { case scala.util.control.NonFatal(_) => "" }

  /** True when a DuckDB oracle sweep (scripts/check.py) is running on
    * this host — its phases spike load to 18+ and invalidate timings. */
  private def sweepRunning(): Boolean =
    try {
      import scala.sys.process._
      Seq("pgrep", "-f", "scripts/check.py").!(ProcessLogger(_ => ())) == 0
    } catch { case scala.util.control.NonFatal(_) => false }

  /** One query's result: its min-over-reps seconds, or -1 with the
    * exception class of its first failed rep. */
  final case class Outcome(name: String, seconds: Double, failure: Option[String])

  /** The one-line JSON record. A failed query reads -1 in `queries` and
    * is left out of `value`; `failed_count` and `failed` (name →
    * exception class) make the failure set visible in the line itself,
    * so a query that throws can never pass as a faster run. */
  def summaryLine(results: Seq[Outcome], reps: Int, sfDir: String,
                  loadBefore: String, loadAfter: String, sweep: Boolean): String = {
    val qs = results.map(r => "\"" + r.name + f"""\":${r.seconds}%.3f""")
      .mkString("{", ",", "}")
    val total = results.map(_.seconds).filter(_ >= 0).sum
    val failed = results.collect { case Outcome(n, _, Some(cls)) =>
      "\"" + n + "\":\"" + cls + "\"" }
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$reps,"sf":"$sfDir","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","oracle_sweep_running":$sweep,"failed_count":${failed.size},"failed":${failed.mkString("{", ",", "}")}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val loadBefore = loadavg()
    val sweepAtStart = sweepRunning()
    val spark = graft.core.GraftSession
      .builder("graft-bench", s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one untimed warmup: JVM/codegen/parquet-footer costs are one-time
    // session overhead, not operator throughput
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    // optional query subset (comma-separated) for quick local
    // iteration; unknown names are ignored so a stale list never fails
    // the run. NOT for cross-run comparisons: a subset run reaches each
    // query with less JIT/codegen warmup than a full-suite run and
    // reads 1.5-2x slower on early queries (measured r18) — ab_probe
    // deliberately runs the full suite in both trees
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',')
      .map(_.trim).filter(_.nonEmpty).toSet)
    val names = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { name =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val failure =
          try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.mode("overwrite").format("noop").save()
            None
          } catch { case e: Throwable => Some(e.getClass.getName) }
        ((System.nanoTime() - t0) / 1e9, failure)
      }
      // any failed rep marks the query failed; otherwise min over reps
      val failure = runs.flatMap(_._2).headOption
      Outcome(name, if (failure.isDefined) -1.0 else runs.map(_._1).min, failure)
    }
    val loadAfter = loadavg()
    val sweep = sweepAtStart || sweepRunning()
    val line = summaryLine(results, reps, sfDir, loadBefore, loadAfter, sweep)
    val failed = results.filter(_.failure.isDefined)
    if (failed.nonEmpty)
      System.err.println(s"graft.Bench: FAILED (left out of the total): " +
        failed.map(r => s"${r.name} (${r.failure.get})").mkString(", "))
    println(line)
    // also persist the record to a file: the driver captures stdout via a
    // bounded tail, and a long per-query map has been truncated there once
    // (round 7) — the file copy is the canonical artifact
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
