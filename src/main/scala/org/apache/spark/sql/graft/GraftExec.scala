package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike

/** Execution helpers that need the sql-package seam. */
object GraftExec {

  /** Clone of the calling thread's Spark local properties (job group,
    * description, scheduler pool, SQL execution id) — the package-
    * private surface `SparkContext.getLocalProperties` clones through
    * for thread inheritance. [[graft.ext.DriverPool]] uses the pair to
    * run overlapped driver actions under the submitter's properties.
    */
  def cloneLocalProperties(
      sc: org.apache.spark.SparkContext): java.util.Properties = {
    val out = new java.util.Properties()
    val cur = sc.getLocalProperties
    val it = cur.stringPropertyNames().iterator()
    while (it.hasNext) { val k = it.next(); out.setProperty(k, cur.getProperty(k)) }
    out
  }

  def setLocalProperties(sc: org.apache.spark.SparkContext,
      props: java.util.Properties): Unit =
    sc.setLocalProperties(props)

  /** Wrap an RDD of InternalRows as a DataFrame (LogicalRDD leaf) —
    * the internal twin of `createDataFrame(RDD[Row], schema)` without
    * the external-Row encode pass (guide §1.4's warned cost: `.rdd`
    * plus `createDataFrame` pay interpreted Row decode/encode per
    * field). Rows must be immutable (copied) — the standard
    * internalCreateDataFrame contract.
    */
  def internalRowsToDf(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** `df.collect()`, then destroy the broadcasts its executed plan
    * built before returning. A broadcast hash relation holds a whole
    * memory page (`spark.buffer.pageSize`, 16 MB on a 3 GB local
    * driver) however few rows it carries, and the driver's block
    * manager keeps it until the ContextCleaner finds the plan
    * unreachable — after a collection of the generation the plan was
    * promoted to, so a serving loop's one-shot broadcasts linger for a
    * GC-timing-dependent while. Only for a frame collected once: a
    * destroyed broadcast cannot serve another execution.
    */
  def collectOnce(df: DataFrame): Array[Row] = {
    val rows = df.collect()
    // the collect prepared every broadcast exchange of the executed
    // plan (inside AQE query stages too), so each future is done
    BroadcastStages.collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeLike => b.relationFuture
    }.filter(_.isDone).map(_.get).distinct.filter(_.isValid)
      .foreach(_.destroy(blocking = true))
    rows
  }

  private object BroadcastStages extends AdaptiveSparkPlanHelper

  /** The leaf RDD of a checkpointed frame (its analyzed plan is a
    * LogicalRDD), so stage-boundary checkpoints can be tracked for
    * EXPLICIT release: `Dataset.unpersist` only consults the cache
    * manager and never frees checkpoint blocks, which otherwise live
    * until the RDD is GC'd via ContextCleaner — nondeterministic in a
    * long-lived session (the round-16 review's accumulation finding).
    */
  def leafRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Eager checkpoint AND row count in ONE Spark action.
    * `Dataset.checkpoint`/`localCheckpoint(eager = true)` materialize
    * by running an internal `rdd.count()` and DISCARD the number — so a
    * staged pipeline that checkpoints every stage and needs each
    * stage's row count (the curation delta chain) would pay a second,
    * pure-overhead job per stage. This replicates the same construction
    * — copy the unsafe rows, mark the RDD checkpointed (`reliable`: to
    * the context's checkpoint directory, else locally), materialize,
    * wrap the checkpointed RDD as a leaf plan — and keeps the count.
    *
    * With `keyOrdinal` ≥ 0 the same action also returns that long
    * column's values under `cap`, by [[graft.ext.DriverTier]]'s rules
    * (its per-partition quota; None over the cap), while still counting
    * every row, so the count stays exact either way.
    */
  def checkpointCounted(df: DataFrame, reliable: Boolean, keyOrdinal: Int,
      cap: Long): (DataFrame, Long, Option[Array[Long]]) = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    if (reliable) rdd.checkpoint() else rdd.localCheckpoint()
    val perPart = if (keyOrdinal < 0) 0 else graft.ext.DriverTier.quota(cap)
    val parts = spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (buf.length < perPart) buf += r.getLong(keyOrdinal)
          n += 1L
        }
        (n, buf.toArray)
      })
    val total = parts.iterator.map(_._1).sum
    val ids =
      if (keyOrdinal < 0) None
      else graft.ext.DriverTier.complete(total, cap, parts.toIndexedSeq.map(_._2))
    (spark.internalCreateDataFrame(rdd, df.schema), total, ids)
  }
}
