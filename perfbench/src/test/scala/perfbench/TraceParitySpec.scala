package perfbench

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A traced run must issue the same Spark jobs and produce the same
  * outputs as an untraced run of the same seed. Runs on the smallest
  * input scale (PERFBENCH_TEST_SF_DIR, default ~/testdata/sf0.001). */
class TraceParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = sys.env.getOrElse("PERFBENCH_TEST_SF_DIR",
    sys.props("user.home") + "/testdata/sf0.001")
  private lazy val work = JFiles.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = graft.core.GraftSession
    .builder("perfbench-spec", "local[2]", shufflePartitions = 2)
    .config("spark.sql.catalog.graft_lake.warehouse", s"$work/warehouse")
    .getOrCreate()

  override def afterAll(): Unit = if (JFiles.exists(java.nio.file.Paths.get(sfDir))) spark.stop()

  private def run(workload: String, traced: Boolean, tag: String): Map[String, Any] = {
    val ctx = new Ctx(spark, new Runner(spark, new Clock),
      if (traced) Some(new Trace) else None, workload, 5L, 1, sfDir, s"$work/$tag", None)
    if (workload == "lakehouse_ingest") Ingest.run(ctx) else Replay.run(ctx)
    if (workload != "lakehouse_ingest") ctx.sequenceText = Replay.sequence(workload, ctx.seed)
    Report.build(ctx, ctx.runner.jobsPerOp(), 0.0, ctx.created)
  }

  for (w <- Seq("olap_read", "lakehouse_ingest")) test(s"$w: tracing changes no job and no output") {
    assume(JFiles.exists(java.nio.file.Paths.get(sfDir)), s"no input tables at $sfDir")
    val plain = run(w, traced = false, s"$w-plain")
    val traced = run(w, traced = true, s"$w-traced")
    assert(plain("failed") == 0, plain("failures"))
    assert(traced("failed") == 0, traced("failures"))
    assert(plain("jobs_pass1") == traced("jobs_pass1"))
    assert(plain("outputs") == traced("outputs"))
    assert(plain("sequence_sha256") == traced("sequence_sha256"))
    val layers = traced("per_layer").asInstanceOf[Option[Map[String, Double]]].get
    assert(layers.keySet == Layers.names.map(_._1).toSet)
    assert(layers("operators.jobs") > 0)
    if (w == "olap_read")
      assert(layers.filter(_._1.startsWith("sources.")).values.forall(_ == 0.0))
    else assert(layers("sources.commit.s") > 0 && layers("sources.meta.build_s") > 0)
  }
}
