package perfbench

import java.security.MessageDigest
import java.nio.charset.StandardCharsets.UTF_8

/** Turns a finished run into its result record. */
object Report {

  private def passWalls(ops: Seq[OpRecord]): Seq[(Int, Boolean, Double)] =
    ops.filter(_.timed).groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, os) =>
      (p, os.head.traced, os.map(_.wallS).sum) }

  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def warmupS(ctx: Ctx): Double = (ctx.warmupEnd - ctx.created) / 1000

  /** Operations keyed by name, door and occurrence within their pass, so
    * the same step of different passes lines up. */
  private def steps(ops: Seq[OpRecord]): Map[(String, String, Int), Seq[OpRecord]] =
    ops.groupBy(_.pass).values.toSeq
      .flatMap(_.groupBy(o => (o.name, o.door)).values
        .flatMap(_.zipWithIndex.map { case (o, i) => (o.name, o.door, i) -> o }))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  /** Cost of tracing: the median over steps run in both a traced and an
    * untraced pass of their mean traced / untraced wall. */
  private def overhead(ops: Seq[OpRecord]): Double = {
    def walls(traced: Boolean) = steps(ops.filter(o => o.timed && o.ok && o.traced == traced))
      .map { case (k, v) => k -> v.map(_.wallS).sum / v.size }
    val t = walls(true)
    val u = walls(false)
    Stats.median(t.keys.filter(u.contains).map(k => t(k) / u(k)).toSeq)
  }

  /** Per-layer metrics and spans of a traced run. */
  def layers(ctx: Ctx, t: Trace, sessionS: Double): (Map[String, Double], Seq[Trace.Span]) = {
    val ops = ctx.runner.ops.toSeq
    val tracedPasses = ops.filter(o => o.timed && o.traced).map(_.pass).distinct.size
    Layers.compute(t, ops.filter(o => o.timed && o.traced), ctx.facts.toMap,
      tracedPasses, sessionS, warmupS(ctx), overhead(ops))
  }

  def build(ctx: Ctx, jobsPerOp: Map[String, Int], sessionS: Double,
            launchMs: Double): Map[String, Any] = {
    val ops = ctx.runner.ops.toSeq
    val timed = ops.filter(_.timed)
    def lat(f: OpRecord => Boolean) = timed.filter(f).map(_.latencyS)
    def q(xs: Seq[Double], p: Double): Double = Stats.quantile(xs, p)
    val all = lat(_ => true)
    // the workload's primary operation: a query, or a commit of the ingest
    val isPrimary: OpRecord => Boolean =
      if (ctx.workload == "lakehouse_ingest") o => Layers.isCommit(o.kind) else _ => true
    val primary = lat(isPrimary)
    // geometric mean over steps of each one's median across passes: every
    // query or commit weighs the same by ratio, where a median of a fixed
    // list of ten falls between its fast and slow clusters and flips
    val perStep = steps(timed.filter(isPrimary)).values.map(v => Stats.median(v.map(_.latencyS)))
    val e2e = Map(
      "wall_s" -> Stats.median(passWalls(ops).map(_._3)),
      "op_gmean_s" -> math.exp(perStep.map(math.log).sum / perStep.size),
      "setup_s" -> (ctx.firstTimed - launchMs) / 1000,
      "peak_rss_mb" -> peakRssMb())
    val failed = ops.filterNot(_.ok)
    val extra: Map[String, Double] = ctx.workload match {
      case "lakehouse_ingest" =>
        val commits = lat(o => Layers.isCommit(o.kind))
        val reads = lat(o => Layers.isRead(o.kind))
        Map("commit_p50_s" -> q(commits, 0.5), "commit_p90_s" -> q(commits, 0.9),
          "read_p50_s" -> q(reads, 0.5), "read_p90_s" -> q(reads, 0.9),
          "freshness_p50_s" -> Stats.median(ctx.freshness.toSeq),
          "stored_mb" -> Stats.median(ctx.storedBytes.map(_ / 1e6).toSeq))
      case _ => Map("query_p50_s" -> q(all, 0.5), "query_p90_s" -> q(all, 0.9))
    }
    val samples = Map("op" -> primary.size, "commit" -> lat(o => Layers.isCommit(o.kind)).size,
      "read" -> lat(o => Layers.isRead(o.kind)).size, "freshness" -> ctx.freshness.size)
    val firstPass = ops.filter(o => o.timed && o.pass == 1)
    val perLayer = ctx.trace.map(t => layers(ctx, t, sessionS)._1)
    Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace.isDefined, "passes" -> ctx.passCount,
      "sequence_sha256" -> sha256(ctx.sequenceText),
      "attempted" -> ops.size, "failed" -> failed.size,
      "fail_rate" -> (if (ops.isEmpty) 1.0 else failed.size.toDouble / ops.size),
      "failures" -> failed.map(o => Map("op" -> o.id, "name" -> o.name, "kind" -> o.kind,
        "door" -> o.door, "pass" -> o.pass, "error" -> o.error.getOrElse(""))),
      "metrics" -> e2e, "extra" -> extra, "samples" -> samples,
      "per_layer" -> perLayer,
      "per_layer_units" -> perLayer.map(_ => Layers.names.toMap),
      "core" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS(ctx)),
      "outputs" -> ctx.outputs.map { case (k, (n, h)) => k -> Seq(n.toString, h) },
      "pass_walls" -> passWalls(ops).map { case (p, t, w) => Seq(p, t, w) },
      "ops" -> ops.map(o => Seq(o.id, o.name, o.kind, o.door, o.pass, o.timed, o.traced,
        o.wallS, (o.buildEnd - o.start) / 1000, o.ok)),
      "jobs_pass1" -> firstPass.map(o => Seq(o.name + "/" + o.door, jobsPerOp.getOrElse(o.id, 0))))
  }
}
