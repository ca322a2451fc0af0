package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wall clock in epoch milliseconds with nanosecond resolution, on the
  * same base as the timestamps Spark puts in its listener events. */
final class Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** One client operation: `build` returns once the call that constructs
  * the work has returned (a DataFrame for reads and queries), `end` once
  * it is materialized or committed. Times are [[Clock]] milliseconds. */
final case class OpRecord(id: String, name: String, kind: String, door: String,
                          pass: Int, timed: Boolean, traced: Boolean,
                          start: Double, buildEnd: Double, end: Double,
                          error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def wallS: Double = (end - start) / 1000
  /** Latency as ranked in the percentiles: a failure is slower than
    * every limit ([[OpRecord.FailedS]]). */
  def latencyS: Double = if (ok) wallS else OpRecord.FailedS
}

object OpRecord {
  /** The latency a failed operation enters the percentiles with. */
  val FailedS = 1e9
}

/** Closed-loop client: one thread, one operation at a time. Each
  * operation runs under a Spark job group named by its id, so every job
  * it issues can be attributed to it afterwards. */
final class Runner(spark: SparkSession, val clock: Clock) {
  val ops = ArrayBuffer.empty[OpRecord]

  def op[A](name: String, kind: String, door: String, pass: Int,
            timed: Boolean, traced: Boolean)(build: => A)(run: A => Unit): OpRecord = {
    val id = f"op${Runner.seq.incrementAndGet()}%05d"
    val sc = spark.sparkContext
    sc.setJobGroup(id, s"$kind $name", interruptOnCancel = false)
    val t0 = clock.now
    var tb = t0
    val err =
      try {
        val a = build
        tb = clock.now
        run(a)
        None
      } catch {
        case NonFatal(e) =>
          Some(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
      }
    val t1 = clock.now
    sc.clearJobGroup()
    val rec = OpRecord(id, name, kind, door, pass, timed, traced, t0,
      if (err.isDefined && tb == t0) t1 else tb, t1, err)
    ops += rec
    rec
  }

  /** Marks an operation failed after the fact (its output check failed). */
  def fail(id: String, why: String): Unit = {
    val i = ops.indexWhere(_.id == id)
    if (i >= 0 && ops(i).ok) ops(i) = ops(i).copy(error = Some("OutputMismatch: " + why))
  }

  /** Spark jobs each operation issued, from the public status tracker. */
  def jobsPerOp(): Map[String, Int] =
    ops.map(o => o.id -> spark.sparkContext.statusTracker
      .getJobIdsForGroup(o.id).length).toMap
}

object Runner {
  /** Op ids are unique in the JVM: they name Spark job groups. */
  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}
