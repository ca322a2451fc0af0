package perfbench

import java.time.{Instant, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ManifestTable

/** The lakehouse_ingest workload: the `events` table replayed in time
  * order as date-partitioned micro-batches, each committed twice — once
  * through the `ManifestTable` facade into a path table (door `api`),
  * once through ANSI SQL into a `graft_lake` catalog table (door `sql`) —
  * with late re-deliveries, backfills, corrections, maintenance and the
  * reads a downstream consumer makes. Every read is checked against an
  * in-memory model of the expected table, and both copies must agree
  * with it at the end of each cycle. */
object Ingest {

  /** Micro-batches per replay of the 30-day events table: with the
    * corrections, maintenance and reads between them, one replay is 24
    * operations, which a cold driver runs in about half a minute. */
  val Batches = 3

  /** One source event. */
  final case class Ev(id: Long, tsMicros: Long, user: Long, etype: String, value: Double) {
    def day: String = Ingest.day(tsMicros)
  }

  /** One table row: the event plus its partition and ingest batch. */
  final case class Rec(id: Long, tsMicros: Long, user: Long, etype: String, value: Double,
                       day: String, seq: Long) {
    def render: String = s"$id,$tsMicros,$user,$etype,$value,$day,$seq"
  }

  def day(tsMicros: Long): String =
    Instant.ofEpochSecond(Math.floorDiv(tsMicros, 1000000L)).atOffset(ZoneOffset.UTC)
      .toLocalDate.toString

  sealed trait Step { def kind: String; def name: String; def render: String }
  /** append / upsert (late re-deliveries) / backfill (partition replace). */
  final case class Put(kind: String, name: String, rows: Vector[Rec]) extends Step {
    def render: String = s"$kind $name ${rows.size}\n" + rows.map(_.render).mkString("\n")
  }
  /** Predicate correction: `delete` or `update` (value halved) of one
    * event type on one day; merge-on-read on the path table. */
  final case class Correct(name: String, day: String, etype: String) extends Step {
    def kind = "correct"
    def render: String = s"correct $name $day $etype"
  }
  /** Keyed copy-on-write correction: matched rows take the new values. */
  final case class Fix(rows: Vector[Rec]) extends Step {
    def kind = "correct"; def name = "merge_cow"
    def render: String = s"fix ${rows.size}\n" + rows.map(_.render).mkString("\n")
  }
  final case class Maintain(name: String) extends Step {
    def kind = "maintain"; def render: String = s"maintain $name"
  }
  final case class Rollup(day: String) extends Step {
    def kind = "rollup"; def name = "rollup"; def render: String = s"rollup $day"
  }
  /** Time travel to the version at fraction `at` of the copy's history. */
  final case class AsOf(at: Double) extends Step {
    def kind = "asof"; def name = "asof"; def render: String = s"asof $at"
  }
  case object Changes extends Step {
    def kind = "changes"; def name = "changes"; def render = "changes"
  }
  case object StatsRead extends Step {
    def kind = "stats"; def name = "stats"; def render = "stats"
  }

  /** The operation stream for one replay of `events` in `batches`
    * micro-batches: a pure function of its inputs. */
  def generate(events: IndexedSeq[Ev], seed: Long, batches: Int): Vector[Step] = {
    require(batches >= 2, "the stream needs at least two batches")
    val rng = new Random(seed)
    val byDay = events.groupBy(_.day).map { case (d, es) =>
      d -> es.sortBy(e => (e.tsMicros, e.id)).toVector }
    val days = byDay.keys.toVector.sorted
    val slices = (0 until batches).map(b =>
      days.slice(b * days.size / batches, (b + 1) * days.size / batches))
    def at(n: Int): Set[Int] = rng.shuffle((1 until batches).toList).take(n).toSet
    val upsertAt = at(math.max(1, batches / 3))
    val backfillAt = at(math.max(1, batches / 4))
    val correctAt = at(math.max(2, batches / 2))
    val maintainAt = at(math.max(1, batches / 4))
    val asofAt = at(math.max(1, batches / 3))
    val changesAt = at(math.max(1, batches / 3))
    val statsAt = at(math.max(1, batches / 4))
    val types = events.map(_.etype).distinct.sorted
    def rec(e: Ev, seq: Int, value: Double) = Rec(e.id, e.tsMicros, e.user, e.etype, value, e.day, seq)

    val out = Vector.newBuilder[Step]
    var corrections = 0
    var maintenance = 0
    (0 until batches).foreach { b =>
      val ingested = slices.take(b).flatten
      val fresh = slices(b).flatMap(byDay).map(e => rec(e, b, e.value))
      if (upsertAt(b)) {
        val late = ingested.flatMap(byDay).filter(_ => rng.nextDouble() < 0.01)
          .map(e => rec(e, b, e.value + 0.25))
        out += Put("upsert", "upsert", (late ++ fresh).toVector)
      } else out += Put("append", "append", fresh.toVector)
      out += Rollup(slices(b).last)
      if (backfillAt(b)) {
        val d = ingested(rng.nextInt(ingested.size))
        out += Put("backfill", "backfill", byDay(d).map(e => rec(e, b, e.value * 2)))
      }
      if (correctAt(b)) {
        if (corrections % 2 == 0) {
          val d = ingested(rng.nextInt(ingested.size))
          out += Correct(if (rng.nextBoolean()) "delete_mor" else "update_mor",
            d, types(rng.nextInt(types.size)))
        } else {
          val pool = ingested.flatMap(byDay)
          out += Fix(Vector.fill(100)(pool(rng.nextInt(pool.size))).distinct
            .map(e => rec(e, b, e.value + 1.0)))
        }
        corrections += 1
      }
      if (maintainAt(b)) {
        out += Maintain(if (maintenance % 2 == 0) "compact" else "optimize")
        maintenance += 1
      }
      if (asofAt(b)) out += AsOf(rng.nextDouble())
      if (changesAt(b)) out += Changes
      if (statsAt(b)) out += StatsRead
    }
    out.result()
  }

  def render(steps: Seq[Step]): String = steps.map(_.render).mkString("\n")

  // ------------------------------------------------------------- model

  type Snapshot = Map[Long, Rec]

  /** Applies a commit step to the model. */
  def applyStep(m: Snapshot, s: Step): Snapshot = s match {
    case Put("backfill", _, rows) =>
      val days = rows.map(_.day).toSet
      m.filterNot { case (_, r) => days(r.day) } ++ rows.map(r => r.id -> r)
    case Put(_, _, rows) => m ++ rows.map(r => r.id -> r)
    case Correct("delete_mor", d, t) => m.filterNot { case (_, r) => r.day == d && r.etype == t }
    case Correct(_, d, t) => m.map { case (k, r) =>
      k -> (if (r.day == d && r.etype == t) r.copy(value = r.value * 0.5) else r) }
    case Fix(rows) => m ++ rows.filter(r => m.contains(r.id)).map(r => r.id -> r)
    case _ => m
  }

  /** Exact aggregate fingerprint of a set of rows, computed identically
    * by Spark ([[sumCols]]) and by the model ([[modelSum]]). */
  val sumCols: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).cast("decimal(38,0)"),
    sum(col("event_id").cast("decimal(38,0)")),
    sum(col("value").cast("decimal(27,6)")),
    sum((col("event_id") * col("ingest_seq")).cast("decimal(38,0)")),
    sum(col("user_id").cast("decimal(38,0)")),
    sum(unix_micros(col("ts")).cast("decimal(38,0)")),
    sum((length(col("event_type")) * col("event_id")).cast("decimal(38,0)")),
    sum(regexp_replace(col("day"), "-", "").cast("long").cast("decimal(38,0)")))

  def modelSum(rows: Iterable[Rec]): Seq[BigDecimal] = {
    val z = Array.fill(8)(BigDecimal(0))
    rows.foreach { r =>
      z(0) += 1; z(1) += r.id
      z(2) += BigDecimal(r.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      z(3) += BigDecimal(r.id) * r.seq; z(4) += r.user; z(5) += r.tsMicros
      z(6) += BigDecimal(r.etype.length) * r.id; z(7) += r.day.replace("-", "").toLong
    }
    z.toSeq
  }

  def sparkSum(df: DataFrame): Seq[BigDecimal] = {
    val r = df.agg(sumCols.head, sumCols.tail: _*).head()
    (0 until r.length).map(i =>
      if (r.isNullAt(i)) BigDecimal(0) else BigDecimal(r.getDecimal(i)))
  }

  def hourly(rows: Iterable[Rec]): Map[Int, (Long, BigDecimal)] =
    rows.groupBy(r => (Math.floorMod(r.tsMicros, 86400000000L) / 3600000000L).toInt).map {
      case (h, rs) => h -> (rs.size.toLong,
        rs.map(r => BigDecimal(r.value).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum)
    }

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("day", StringType),
    StructField("ingest_seq", LongType)))

  private val columnsDdl = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
    "event_type STRING, value DOUBLE, day STRING, ingest_seq BIGINT"

  def frame(spark: SparkSession, rows: Seq[Rec]): DataFrame = {
    val data = rows.map { r =>
      val ts = new java.sql.Timestamp(Math.floorDiv(r.tsMicros, 1000L))
      ts.setNanos((Math.floorMod(r.tsMicros, 1000000L) * 1000L).toInt)
      Row(r.id, ts, r.user, r.etype, r.value, r.day, r.seq)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  /** Reads the source events in (ts, id) order. */
  def loadEvents(spark: SparkSession, sfDir: String): IndexedSeq[Ev] =
    graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
        col("event_type"), col("value"))
      .collect().map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4))).sortBy(e => (e.tsMicros, e.id)).toIndexedSeq

  // ---------------------------------------------------------- executor

  /** One copy of the table: where it lives and its committed history. */
  final class Copy(val door: String, val root: String, val sqlName: String) {
    val history = mutable.ArrayBuffer.empty[(Long, Snapshot)]
    var lastSeen: Long = 0L
    /** (id, seq, value) of every row written since `lastSeen`. */
    val sinceSeen = mutable.Set.empty[(Long, Long, Double)]
  }

  /** What one cycle leaves for the run record. */
  final case class CycleOut(storedBytes: Long, freshness: Seq[Double])

  /** Replays `steps` on a fresh pair of tables named `tag`. */
  def cycle(ctx: Ctx, steps: Seq[Step], tag: String, pass: Int, timed: Boolean,
            traced: Boolean): CycleOut = {
    val spark = ctx.spark
    val runner = ctx.runner
    val api = new Copy("api", s"${ctx.workDir}/lake/$tag", "")
    val ns = "graft_lake.perfbench"
    val warehouse = spark.conf.get("spark.sql.catalog.graft_lake.warehouse")
    val sqlT = new Copy("sql", s"$warehouse/perfbench/$tag", s"$ns.$tag")
    val copies = Seq(api, sqlT)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $ns")
    runner.op("create", "create", "api", pass, timed = false, traced = false)(())(_ =>
      ManifestTable.createEmpty(spark, api.root, schema, Seq("day"),
        tags = Map(ManifestTable.NdvColsProp -> "user_id")))
    runner.op("create", "create", "sql", pass, timed = false, traced = false)(())(_ =>
      spark.sql(s"CREATE TABLE ${sqlT.sqlName} ($columnsDdl) PARTITIONED BY (day)"))
    copies.foreach { c =>
      val v = ManifestTable.currentVersion(spark, c.root).getOrElse(0L)
      c.history += v -> Map.empty
      c.lastSeen = v
    }
    var model: Snapshot = Map.empty
    val freshness = Seq.newBuilder[Double]
    val pendingFresh = mutable.Map.empty[String, Double]
    val dirBytes = mutable.Map.empty[String, (Long, Long, Long)]
    copies.foreach(c => dirBytes(c.door) = DirUsage.of(c.root))

    def check(id: String, ok: Boolean, why: => String): Unit =
      if (!ok) runner.fail(id, why)

    steps.foreach { step =>
      val after = applyStep(model, step)
      // the change feed and the stats are facade reads of the path table
      val doors = step match { case Changes | StatsRead => Seq(api); case _ => copies }
      doors.foreach { c =>
        val t = c.sqlName
        val rec: OpRecord = step match {
          case Put(kind, _, rows) =>
            runner.op(step.name, kind, c.door, pass, timed, traced)(frame(spark, rows)) { df =>
              if (c.door == "api") kind match {
                case "append" => ManifestTable.append(spark, df, c.root, checkpointInterval = 3)
                case "upsert" => ManifestTable.upsertDedup(spark, df, c.root, Seq("event_id"),
                  "ingest_seq", partitionCols = Seq("day"), checkpointInterval = 3)
                case _ => ManifestTable.replacePartitions(spark, df, c.root, checkpointInterval = 3)
              } else {
                df.createOrReplaceTempView("perfbench_batch")
                spark.sql(kind match {
                  case "append" => s"INSERT INTO $t SELECT * FROM perfbench_batch"
                  case "upsert" => s"MERGE INTO $t t USING perfbench_batch s " +
                    "ON t.event_id = s.event_id WHEN MATCHED THEN UPDATE SET * " +
                    "WHEN NOT MATCHED THEN INSERT *"
                  case _ => s"INSERT OVERWRITE $t SELECT * FROM perfbench_batch"
                })
              }
            }
          case Correct(name, d, et) =>
            runner.op(name, "correct", c.door, pass, timed, traced)(()) { _ =>
              val pred = col("day") === d && col("event_type") === et
              val where = s"day = '$d' AND event_type = '$et'"
              (c.door, name) match {
                case ("api", "delete_mor") => ManifestTable.deleteMoR(spark, c.root, pred)
                case ("api", _) => ManifestTable.updateMoR(spark, c.root, pred,
                  Map("value" -> col("value") * 0.5))
                case (_, "delete_mor") => spark.sql(s"DELETE FROM $t WHERE $where")
                case _ => spark.sql(s"UPDATE $t SET value = value * 0.5 WHERE $where")
              }
            }
          case Fix(rows) =>
            runner.op(step.name, "correct", c.door, pass, timed, traced)(frame(spark, rows)) { df =>
              if (c.door == "api")
                ManifestTable.merge(spark, c.root, df, Seq("event_id"),
                  ManifestTable.MatchUpdateAll, insertUnmatched = false)
              else {
                df.createOrReplaceTempView("perfbench_batch")
                spark.sql(s"MERGE INTO $t t USING perfbench_batch s " +
                  "ON t.event_id = s.event_id WHEN MATCHED THEN UPDATE SET *")
              }
            }
          case Maintain(name) =>
            runner.op(name, "maintain", c.door, pass, timed, traced)(()) { _ =>
              if (name == "optimize") ManifestTable.optimize(spark, c.root)
              else ManifestTable.compact(spark, c.root)
            }
          case Rollup(d) =>
            var got: Map[Int, (Long, BigDecimal)] = Map.empty
            val r = runner.op("rollup", "rollup", c.door, pass, timed, traced) {
              val df =
                if (c.door == "api") ManifestTable.readWhere(spark, c.root, col("day") === d)
                else spark.sql(s"SELECT * FROM $t WHERE day = '$d'")
              df.groupBy(hour(col("ts")).as("h"))
                .agg(count(lit(1)), sum(col("value").cast("decimal(27,6)")))
            } { df =>
              got = df.collect().map(r => r.getInt(0) ->
                (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
            }
            if (r.ok) {
              val want = hourly(model.values.filter(_.day == d))
              check(r.id, got == want, s"rollup $d on ${c.door}: ${got.size} hours, want ${want.size}")
              pendingFresh.get(c.door).foreach(s => freshness += (r.end - s) / 1000)
              pendingFresh -= c.door
            }
            r
          case AsOf(at) =>
            val hist = c.history.drop(1)
            val (v, snap) = if (hist.isEmpty) c.history.head
              else hist(math.min(hist.size - 1, (at * hist.size).toInt))
            var got: Seq[BigDecimal] = Nil
            val r = runner.op("asof", "asof", c.door, pass, timed, traced) {
              if (c.door == "api") ManifestTable.readVersion(spark, c.root, v)
              else spark.sql(s"SELECT * FROM $t VERSION AS OF $v")
            }(df => got = sparkSum(df))
            if (r.ok) check(r.id, got == modelSum(snap.values), s"asof v$v on ${c.door}")
            r
          case Changes =>
            val (to, snap) = c.history.last
            var got: Array[(Long, Long, Double)] = Array.empty
            val r = runner.op("changes", "changes", c.door, pass, timed, traced)(
              ManifestTable.readChanges(spark, c.root, c.lastSeen, to)) { df =>
              got = df.select("event_id", "ingest_seq", "value").collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            }
            if (r.ok) {
              // every row written since the consumer's last version that is
              // still live must be in the change set, and every row in it
              // must be live or written in that window
              val seen = got.map(_._1).toSet
              val missing = c.sinceSeen.map(_._1).filter(snap.contains).filterNot(seen)
              val stray = got.filterNot { case (id, s, v) =>
                snap.get(id).exists(x => x.seq == s && x.value == v) || c.sinceSeen((id, s, v)) }
              check(r.id, missing.isEmpty && stray.isEmpty, s"changes (${c.lastSeen}, $to]: " +
                s"${missing.size} missing, ${stray.length} stray")
              c.lastSeen = to
              c.sinceSeen.clear()
            }
            r
          case StatsRead =>
            var day: Option[Row] = None
            val r = runner.op("stats", "stats", c.door, pass, timed, traced)(
              ManifestTable.statsOnly(spark, c.root))(df =>
              day = df.collect().find(_.getString(0) == "day"))
            if (r.ok) {
              // partition-column stats stay exact under deletion vectors
              val days = model.values.map(_.day)
              val got = day.map(d => (d.getLong(1), d.getString(4), d.getString(5)))
              val want = if (days.isEmpty) None else Some((model.size.toLong, days.min, days.max))
              check(r.id, got == want, s"stats: day $got, want $want")
            }
            r
        }
        if (Layers.isCommit(step.kind)) {
          val v = ManifestTable.currentVersion(spark, c.root).getOrElse(-1L)
          if (rec.ok && v != c.history.last._1) {
            c.history += v -> after
            step match {
              case Put(k, _, rows) =>
                rows.foreach(x => c.sinceSeen += ((x.id, x.seq, x.value)))
                if (k != "backfill") pendingFresh.getOrElseUpdate(c.door, rec.start)
              case Fix(rows) => rows.filter(x => model.contains(x.id))
                .foreach(x => c.sinceSeen += ((x.id, x.seq, x.value)))
              case Correct(n, d, et) if n != "delete_mor" => after.values
                .filter(x => x.day == d && x.etype == et)
                .foreach(x => c.sinceSeen += ((x.id, x.seq, x.value)))
              case _ => ()
            }
          }
          if (traced) {
            val (f, b, l) = DirUsage.of(c.root)
            val (f0, b0, l0) = dirBytes(c.door)
            ctx.facts(rec.id) = Layers.TableFacts(filesAdded = f - f0, bytesAdded = b - b0,
              logBytesAdded = l - l0)
            dirBytes(c.door) = (f, b, l)
          }
        } else if (traced) {
          ManifestTable.current(spark, c.root).foreach { st =>
            ctx.facts(rec.id) = Layers.TableFacts(filesLive = st.files.size, version = st.version)
          }
        }
      }
      model = after
    }

    // both copies agree with the model at the end
    copies.foreach { c =>
      val got = try sparkSum(if (c.door == "api") ManifestTable.read(spark, c.root)
        else spark.table(c.sqlName)) catch { case scala.util.control.NonFatal(_) => Nil }
      val last = runner.ops.lastIndexWhere(o => o.door == c.door && o.pass == pass)
      if (got != modelSum(model.values) && last >= 0)
        runner.fail(runner.ops(last).id, s"final ${c.door} copy differs from the model")
    }
    CycleOut(copies.map { c => val (_, data, log) = DirUsage.of(c.root); data + log }.sum,
      freshness.result())
  }

  /** The whole workload: timed cycles, each a fresh pair of tables. There
    * is no warm-up: like a scheduled batch job, the first cycle runs in a
    * fresh driver. */
  def run(ctx: Ctx): Unit = {
    val events = loadEvents(ctx.spark, ctx.sfDir)
    val steps = generate(events, ctx.seed, Batches)
    ctx.sequenceText = render(steps)
    ctx.warmupDone()
    ctx.passes { (pass, traced) =>
      val tag = s"${java.nio.file.Paths.get(ctx.workDir).getFileName}_c$pass"
        .replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
      val out = cycle(ctx, steps, tag, pass, timed = true, traced = traced)
      ctx.storedBytes += out.storedBytes
      ctx.freshness ++= out.freshness
    }
  }
}

/** Byte accounting of a table root: (data files, data bytes, log bytes). */
object DirUsage {
  def of(root: String): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return (0L, 0L, 0L)
    var files = 0L; var data = 0L; var log = 0L
    val walk = java.nio.file.Files.walk(p)
    try walk.forEach { f =>
      if (java.nio.file.Files.isRegularFile(f)) {
        val n = java.nio.file.Files.size(f)
        if (p.relativize(f).toString.startsWith("_manifests")) log += n
        else if (f.getFileName.toString.endsWith(".parquet")) { files += 1; data += n }
        else data += n
      }
    } finally walk.close()
    (files, data, log)
  }
}
