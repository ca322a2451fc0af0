package perfbench

import scala.collection.mutable

/** Turns a traced run's buffered events into the per-layer metrics. All
  * sums are per pass: totals over the traced operations divided by the
  * number of traced passes, so runs of different length compare. */
object Layers {

  /** Facts the lakehouse workload measures on the tables themselves
    * (outside every timed window): live files and version after a read,
    * data files, data bytes and log bytes a commit added. */
  final case class TableFacts(filesLive: Long = 0, version: Long = 0,
                              filesAdded: Long = 0, bytesAdded: Long = 0,
                              logBytesAdded: Long = 0)

  val CommitKinds = Seq("append", "upsert", "backfill", "correct", "maintain")
  val ReadKinds = Seq("rollup", "asof", "changes", "stats")
  val Doors = Seq("api", "sql")
  private val Phases = Seq("parse" -> "parsing", "analysis" -> "analysis",
    "optimization" -> "optimization", "planning" -> "planning")
  private val CommitMetrics = Seq("s", "jobs", "files_written", "bytes_written_mb", "log_kb")
  private val MetaMetrics = Seq("build_s", "files_live", "files_read", "prune_ratio")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] = {
    val base = Seq(
      "plans.statements" -> "count", "plans.parse_s" -> "s", "plans.analysis_s" -> "s",
      "plans.optimization_s" -> "s", "plans.planning_s" -> "s", "plans.build_s" -> "s",
      "driver.gap_s" -> "s",
      "operators.jobs" -> "count", "operators.stages" -> "count", "operators.tasks" -> "count",
      "operators.job_s" -> "s", "operators.task_s" -> "s", "operators.cpu_s" -> "s",
      "operators.gc_s" -> "s", "operators.sched_delay_s" -> "s", "operators.input_mb" -> "MB",
      "operators.shuffle_read_mb" -> "MB", "operators.shuffle_write_mb" -> "MB",
      "operators.spill_mb" -> "MB", "operators.skew" -> "ratio",
      "sources.meta.build_s" -> "s", "sources.meta.files_live" -> "count",
      "sources.meta.files_read" -> "count", "sources.meta.prune_ratio" -> "ratio",
      "sources.meta.version" -> "count",
      "sources.commit.s" -> "s", "sources.commit.jobs" -> "count",
      "sources.commit.files_written" -> "count", "sources.commit.bytes_written_mb" -> "MB",
      "sources.commit.log_kb" -> "KB",
      "core.session_s" -> "s", "core.warmup_s" -> "s", "trace.overhead" -> "ratio")
    def unit(m: String) = base.find(_._1.endsWith("." + m)).map(_._2).getOrElse("s")
    val commitSplits = for (m <- CommitMetrics; k <- CommitKinds ++ Doors)
      yield s"sources.commit.$m.$k" -> unit(m)
    val metaSplits = for (m <- MetaMetrics; k <- ReadKinds ++ Doors)
      yield s"sources.meta.$m.$k" -> unit(m)
    base ++ commitSplits ++ metaSplits
  }

  def isCommit(kind: String): Boolean = CommitKinds.contains(kind)
  def isRead(kind: String): Boolean = ReadKinds.contains(kind)

  def compute(trace: Trace, ops: Seq[OpRecord], facts: Map[String, TableFacts],
              passes: Int, sessionS: Double, warmupS: Double,
              overhead: Double): (Map[String, Double], Seq[Trace.Span]) = {
    val acc = mutable.LinkedHashMap(names.map(_._1 -> 0.0): _*)
    def add(k: String, v: Double): Unit = acc(k) = acc(k) + v
    val spans = Seq.newBuilder[Trace.Span]
    val stageById = trace.stages.groupBy(_.id)
    val tasksByStage = trace.tasks.groupBy(_.stage)
    val jobsByGroup = trace.jobs.groupBy(_.group)
    val stmtOwner = trace.stmts.groupBy { s =>
      val t = s.firstPhase
      ops.find(o => t >= o.start - 2 && t <= o.end + 2).map(_.id).getOrElse("")
    }
    val skews = Seq.newBuilder[Double]
    val metaSums = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))

    ops.foreach { o =>
      val jobs = jobsByGroup.getOrElse(o.id, Nil)
      val stmts = stmtOwner.getOrElse(o.id, Nil)
      val jobIv = jobs.map(j => (j.start, if (j.end.isNaN) o.end else j.end))
      val phaseIv = stmts.flatMap(_.phases.values)
      // building a query's DataFrame is API-side analysis; building a
      // lakehouse read is the metadata layer's state resolution and scan
      val buildIv = if (o.kind == "query" || isRead(o.kind)) Seq((o.start, o.buildEnd)) else Nil
      if (o.kind == "query") add("plans.build_s", (o.buildEnd - o.start) / 1000)
      val clip = (jobIv ++ phaseIv ++ buildIv).map { case (s, e) =>
        (math.max(s, o.start), math.min(e, o.end)) }
      val gapS = o.wallS - Stats.unionLength(clip) / 1000
      add("driver.gap_s", gapS)
      def phaseOf(t: Double) = if (t < o.buildEnd) s"${o.id}/build" else s"${o.id}/run"
      spans += Trace.Span(o.id, s"${o.kind}:${o.name}", o.id, "", o.start, o.end)
      spans += Trace.Span(s"${o.id}/build", "build", o.id, o.id, o.start, o.buildEnd)
      spans += Trace.Span(s"${o.id}/run", "run", o.id, o.id, o.buildEnd, o.end)

      add("plans.statements", stmts.size)
      Phases.foreach { case (m, key) =>
        add(s"plans.${m}_s", stmts.flatMap(_.phases.get(key)).map { case (s, e) => e - s }.sum / 1000)
      }
      stmts.zipWithIndex.foreach { case (s, i) =>
        if (!s.firstPhase.isNaN) {
          val end = s.phases.values.map(_._2).max
          spans += Trace.Span(s"${o.id}/stmt$i", "statement:" + s.func, o.id,
            phaseOf(s.firstPhase), s.firstPhase, end)
        }
      }

      val stageIds = jobs.flatMap(_.stageIds).distinct.filter(stageById.contains)
      val tasks = stageIds.flatMap(id => tasksByStage.getOrElse(id, Nil))
      add("operators.jobs", jobs.size)
      add("operators.stages", stageIds.size)
      add("operators.tasks", tasks.size)
      add("operators.job_s", Stats.unionLength(jobIv) / 1000)
      add("operators.task_s", tasks.map(_.durMs).sum / 1000.0)
      add("operators.cpu_s", tasks.map(_.cpuNs).sum / 1e9)
      add("operators.gc_s", tasks.map(_.gcMs).sum / 1000.0)
      add("operators.sched_delay_s", tasks.map(_.schedMs).sum / 1000.0)
      add("operators.input_mb", tasks.map(_.inBytes).sum / 1e6)
      add("operators.shuffle_read_mb", tasks.map(_.shuffleRead).sum / 1e6)
      add("operators.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / 1e6)
      add("operators.spill_mb", tasks.map(_.spill).sum / 1e6)
      stageIds.foreach { id =>
        val d = tasksByStage.getOrElse(id, Nil).map(_.durMs.toDouble)
        if (d.size >= 2) {
          val med = Stats.median(d)
          if (med > 0) skews += d.max / med
        }
      }
      jobs.foreach { j =>
        val jid = s"${o.id}/job${j.id}"
        spans += Trace.Span(jid, s"job:${j.id}", o.id, phaseOf(j.start), j.start,
          if (j.end.isNaN) o.end else j.end)
        j.stageIds.flatMap(stageById.getOrElse(_, Nil)).foreach { s =>
          spans += Trace.Span(s"$jid/stage${s.id}", s"stage:${s.id}", o.id, jid,
            s.submitted, s.completed)
        }
      }

      val f = facts.getOrElse(o.id, TableFacts())
      if (isCommit(o.kind)) {
        val vals = Seq("s" -> o.wallS, "jobs" -> jobs.size.toDouble,
          "files_written" -> f.filesAdded.toDouble,
          "bytes_written_mb" -> f.bytesAdded / 1e6, "log_kb" -> f.logBytesAdded / 1e3)
        vals.foreach { case (m, v) =>
          add(s"sources.commit.$m", v)
          add(s"sources.commit.$m.${o.kind}", v)
          add(s"sources.commit.$m.${o.door}", v)
        }
      } else if (isRead(o.kind)) {
        val read = stmts.map(_.files).sum.toDouble
        val vals = Seq("build_s" -> (o.buildEnd - o.start) / 1000,
          "files_live" -> f.filesLive.toDouble, "files_read" -> read)
        vals.foreach { case (m, v) =>
          add(s"sources.meta.$m", v)
          add(s"sources.meta.$m.${o.kind}", v)
          add(s"sources.meta.$m.${o.door}", v)
        }
        acc("sources.meta.version") = math.max(acc("sources.meta.version"), f.version.toDouble)
        Seq("", "." + o.kind, "." + o.door).foreach { k =>
          val (l, r) = metaSums(k)
          metaSums(k) = (l + f.filesLive, r + read)
        }
      }
    }

    val n = math.max(1, passes).toDouble
    acc.keys.toSeq.foreach { k =>
      if (k != "sources.meta.version") acc(k) = acc(k) / n
    }
    metaSums.foreach { case (k, (live, read)) =>
      acc(s"sources.meta.prune_ratio$k") = if (live > 0) math.max(0.0, 1 - read / live) else 0.0
    }
    val sk = skews.result()
    acc("operators.skew") = if (sk.isEmpty) 0.0 else sk.sum / sk.size
    acc("core.session_s") = sessionS
    acc("core.warmup_s") = warmupS
    acc("trace.overhead") = overhead
    (acc.toMap, spans.result())
  }

  /** Self time of each span: its duration minus the time its children
    * cover, in seconds. */
  def selfTimes(spans: Seq[Trace.Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> math.max(0.0, (s.end - s.start) - Stats.unionLength(cover)) / 1000
    }.toMap
  }
}
