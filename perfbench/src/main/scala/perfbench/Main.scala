package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run shares between its workload and the report. */
final class Ctx(val spark: SparkSession, val runner: Runner, val trace: Option[Trace],
                val workload: String, val seed: Long, val seconds: Int, val sfDir: String,
                val workDir: String, val expectedPath: Option[String]) {
  val outputs = mutable.LinkedHashMap.empty[String, (Long, String)]
  val facts = mutable.Map.empty[String, Layers.TableFacts]
  val storedBytes = mutable.ArrayBuffer.empty[Long]
  val freshness = mutable.ArrayBuffer.empty[Double]
  val created: Double = runner.clock.now
  var sequenceText = ""
  var warmupEnd = Double.NaN
  var firstTimed = Double.NaN
  var passCount = 0

  def warmupDone(): Unit = warmupEnd = runner.clock.now

  /** Timed passes until `seconds` have elapsed; a started pass always
    * completes. With tracing, odd passes are traced and even passes run
    * with the listeners removed, so the trace's own cost is measured;
    * a traced run makes at least one pass of each. */
  def passes(body: (Int, Boolean) => Unit): Unit = {
    val t0 = runner.clock.now
    firstTimed = t0
    var p = 0
    while (p == 0 || runner.clock.now - t0 < seconds * 1000.0 || (trace.isDefined && p < 2)) {
      p += 1
      val traced = trace.isDefined && p % 2 == 1
      if (traced) trace.get.install(spark)
      body(p, traced)
      if (traced) trace.get.uninstall(spark)
    }
    passCount = p
  }
}

/** Command-line entry of the benchmark's JVM side. The Python runner
  * (`run.py`) builds the classpath, launches this main and turns the
  * result file it writes into the benchmark's one-line result. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val trace = args.getOrElse("trace", "0") == "1"
    val workDir = args("work-dir")
    val cpus = args.getOrElse("cpus", "4").toInt
    val launchMs = args("launch-ms").toDouble

    val clock = new Clock
    val sessionStart = clock.now
    val spark = graft.core.GraftSession
      .builder("perfbench", s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.sql.catalog.graft_lake.warehouse", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (clock.now - sessionStart) / 1000

    val ctx = new Ctx(spark, new Runner(spark, clock), if (trace) Some(new Trace) else None,
      workload, args("seed").toLong, args("seconds").toInt, args("sf-dir"), workDir,
      args.get("expected"))
    workload match {
      case "olap_read" | "corpus_compute" =>
        Replay.run(ctx)
        ctx.sequenceText = Replay.sequence(workload, ctx.seed)
      case "lakehouse_ingest" => Ingest.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val jobsPerOp = ctx.runner.jobsPerOp()
    spark.stop() // drains the listener bus

    val result = Report.build(ctx, jobsPerOp, sessionS, launchMs)
    JFiles.write(Paths.get(args("result")), Stats.json(result).getBytes(UTF_8))
    for (t <- ctx.trace; path <- args.get("spans")) {
      val (_, spans) = Report.layers(ctx, t, sessionS)
      val self = Layers.selfTimes(spans)
      val lines = spans.map(s => Stats.json(Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> self(s.id))))
      JFiles.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
  }
}
