package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The two replay workloads: a fixed list of read-only driver queries,
  * each built through `SparkEntry` and materialized through the noop
  * sink, in a seeded order that is re-shuffled every pass.
  *
  * The lists keep every query family of the workload, taking the first
  * query of each family in the order the query packs declare them; no
  * query is picked or dropped for its speed, noise or outcome. */
object Replay {

  val lists: Map[String, Seq[String]] = Map(
    // families q a j w f sf o u agg prof
    "olap_read" -> Seq("q1_agg", "a1_user_counts", "j5_join_agg", "w1_top1_per_group",
      "f1_select", "sf_strings", "o1_sort", "u1_union_merge", "agg_median", "prof_columns"),
    // families d ann t c s
    "corpus_compute" -> Seq("d_exact_dedup", "ann_topk", "t_text_stats",
      "c_decontaminate", "s_stratified"))

  /** Expected (rows, checksum) per query; checksum None = rows only. */
  def readExpected(path: String): Map[String, (Long, Option[String])] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, sum) = l.split('\t')
      name -> (rows.toLong, if (sum == "-") None else Some(sum))
    }.toMap
    finally src.close()
  }

  /** The operation sequence a seed gives, hashed into the run record:
    * the warm-up order, then the order of each of the first 64 timed
    * passes (a run stops after as many as its time allows). The output
    * check after them runs in list order. */
  def sequence(workload: String, seed: Long): String =
    orders(workload, seed).take(65).zipWithIndex
      .map { case (o, p) => s"pass $p: " + o.mkString(",") }.mkString("\n")

  /** The query order of each warm-up pass, then of each timed pass. */
  def orders(workload: String, seed: Long): Iterator[Seq[String]] = {
    val rng = new Random(seed)
    Iterator.continually(rng.shuffle(lists(workload)))
  }

  def run(ctx: Ctx): Unit = {
    val spark: SparkSession = ctx.spark
    val expected = ctx.expectedPath.map(readExpected).getOrElse(Map.empty)
    val order = orders(ctx.workload, ctx.seed)
    val query = graft.SparkEntry.queries

    // untimed warm-up pass, through the same noop sink as the timed ones
    order.next().foreach { q =>
      ctx.runner.op(q, "query", "api", 0, timed = false, traced = false)(
        query(q)(spark, ctx.sfDir))(Runner.noop)
    }
    ctx.warmupDone()

    ctx.passes { (pass, traced) =>
      order.next().foreach { q =>
        ctx.runner.op(q, "query", "api", pass, timed = true, traced = traced)(
          query(q)(spark, ctx.sfDir))(Runner.noop)
      }
    }

    // untimed output check, in list order, after the timed passes
    lists(ctx.workload).foreach { q =>
      var got: (Long, String) = null
      val rec = ctx.runner.op(q, "check", "api", -1, timed = false, traced = false)(
        query(q)(spark, ctx.sfDir))(df => got = Checksum.of(df))
      if (rec.ok) {
        ctx.outputs(q) = got
        expected.get(q) match {
          case None if ctx.expectedPath.isDefined =>
            ctx.runner.fail(rec.id, s"$q has no expected value")
          case Some((rows, sum)) if rows != got._1 || sum.exists(_ != got._2) =>
            ctx.runner.fail(rec.id, s"$q rows/checksum ${got._1}/${got._2}, " +
              s"expected $rows/${sum.getOrElse("-")}")
          case _ => ()
        }
      }
    }
  }
}
