package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, In, Literal}
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Narrow bridge to Spark's `private[sql]` Column ↔ Expression
  * conversion (Spark 4 moved Column onto ColumnNode; classic
  * ColumnNodeToExpressionConverter owns the conversion — the
  * ExpressionUtils path merely wraps the node lazily). Used by graft's
  * manifest data skipping to inspect a filter's conjuncts — read-only,
  * no plan mutation. */
object ColumnExpr {
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `c IN (values)` as ONE catalyst `In` over plain literals.
    * `Column.isin` wraps every value in its own Column, and each
    * captures a call-site origin (a stack walk): at tens of thousands of
    * key values that is seconds of driver time for a filter the
    * analyzer and [[graft.sources.DataSkipping]] see identically. */
  def isIn(c: Column, values: Seq[Any]): Column =
    column(In(expression(c), values.map(Literal(_))))
}

/** Conf isolation for writes that need a non-default SQLConf posture
  * (e.g. ManifestTable generation writes use TIMESTAMP_MICROS parquet
  * output for footer stats while the session default stays INT96).
  * Mutating the session conf — even temporally scoped under a lock —
  * leaks the toggled value to concurrent queries on other threads of
  * the same session; a CLONED session (shared SparkContext, catalog and
  * cached data, own SQLConf copy) is actual isolation. */
object SessionIsolation {
  import org.apache.spark.sql.{classic, DataFrame, SparkSession}

  /** A clone of `spark` (inherits its current runtime conf) with the
    * given conf entries set on the clone only. */
  def sessionWithConf(spark: SparkSession, kv: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    kv.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** The same logical plan bound to another session of the same
    * SparkContext, so actions on the result run under THAT session's
    * SQLConf. */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    classic.Dataset.ofRows(to.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.logical)

  /** An already-analyzed logical plan as a DataFrame (RunnableCommand
    * bodies hold their query as a plan field, not a child). */
  def planFrame(session: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** `df` re-wrapped with `isStreaming = true` so a V1 streaming
    * `Source.getBatch` can hand the engine a plan built with the normal
    * batch reader (MicroBatchExecution asserts the flag). This is the
    * established file-lakehouse-source pattern — Delta's DeltaSource
    * returns `internalCreateDataFrame(rdd, schema, isStreaming = true)`
    * for exactly this reason: a micro-batch of parquet files should be
    * scanned by Spark's own vectorized parquet reader, not a hand-rolled
    * row reader. */
  def streamingFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[streamingFrame]]: a V1 `Sink.addBatch`'s incoming
    * frame is flagged `isStreaming = true`, so ordinary actions on it
    * (counts, joins, writes) trip the unsupported-operations checker —
    * re-wrap the ALREADY-PLANNED incremental execution as a batch frame
    * (Delta's DeltaSink does exactly this). The lineage is pinned: the
    * micro-batch's offsets were planned once, and every downstream
    * action replays that fixed RDD, not a re-read of the source. */
  def batchFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** `df` planned ONCE into a `LogicalRDD` that keeps the original
    * plan's statistics (the `Dataset.localCheckpoint` construction, minus
    * the materialization), when `df` is a non-streaming frame whose
    * analyzed plan reads only in-memory `LocalRelation`s; any other
    * frame is returned as is. A local batch carries its rows INSIDE the
    * plan, so every Dataset derived from it re-walks those rows in each
    * analyzer and optimizer rule; the detached frame hands them over as
    * an already-planned RDD. The kept `sizeInBytes` holds join planning
    * (broadcast choices) where the local plan put it. File scans and
    * streams are never detached: their plans must re-resolve. */
  def detachLocal(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val leaves = ds.queryExecution.analyzed.collectLeaves()
    if (df.isStreaming || !leaves.forall(_.isInstanceOf[LocalRelation])) df
    else classic.Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
