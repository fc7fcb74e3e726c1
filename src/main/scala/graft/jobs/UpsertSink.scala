package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** foreachBatch upsert sink: keep the latest row per key across
  * micro-batches, materialized as versioned parquet snapshots with a
  * `_LATEST` pointer file swapped after each successful write — the
  * file-storage equivalent of the reference's Postgres
  * `ON CONFLICT DO UPDATE` track store (ais_ivef_lmt_client.py) behind
  * Spark's streaming delivery guarantees. In production the same
  * function body issues the JDBC merge; the snapshot/pointer variant is
  * what object storage without a transactional table format supports.
  *
  * The pointer goes through [[Dfs]] — java.io would silently see
  * `exists = false` on every non-local outDir (s3://, hdfs://),
  * degrading the snapshot to latest-batch-only — and is swapped with
  * [[Dfs.writeStringAtomic]], the `_LATEST` discipline IndexExport
  * shares: a crash mid-swap leaves the previous pointer intact instead
  * of a truncated file, and a concurrent [[latest]] always finds the
  * old pointer or the new one, never none.
  *
  * Merge ties on `seqCol` resolve to the INCOMING row (Postgres
  * ON CONFLICT DO UPDATE semantics: the new payload wins at equal
  * sequence) — a bare max_by over seq would pick whichever tied row the
  * shuffle delivered first.
  *
  * Scale: the merge is last-by-key over (previous snapshot ∪ batch) —
  * one shuffle on the key per micro-batch, snapshot size bounded by
  * live-key cardinality, not stream length. For very large key spaces,
  * partition the snapshot by a key hash so each batch rewrites only
  * touched partitions.
  */
object UpsertSink {

  private val Src = "__upsert_src"

  private def pointer(outDir: String): Path =
    new Path(Dfs.qualified(outDir), "_LATEST")

  private def readPointer(outDir: String): Option[String] = {
    val p = pointer(outDir)
    if (!Dfs.isFile(p)) None
    else Some(Dfs.readString(p).trim)
      .filter(_.nonEmpty) // blank = interrupted legacy write
  }

  def foreachBatchUpsert(outDir: String, keyCol: String, seqCol: String)
                        (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val prev = readPointer(outDir)
      .map(v => spark.read.parquet(s"$outDir/$v"))
    // src flag: 0 = previous snapshot, 1 = incoming batch — the
    // deterministic tiebreak at equal seq (incoming wins)
    val unioned = prev match {
      case Some(p) => p.withColumn(Src, lit(0))
        .unionByName(batch.withColumn(Src, lit(1)))
      case None => batch.withColumn(Src, lit(1))
    }
    val payload = unioned.columns.filterNot(_ == Src)
    val merged = unioned
      .groupBy(col(keyCol))
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*),
        struct(col(seqCol), col(Src))).as("r"))
      .select(col("r.*"))
    val v = s"v$batchId"
    merged.write.mode("overwrite").parquet(s"$outDir/$v")
    Dfs.writeStringAtomic(pointer(outDir), v)
  }

  /** Read the current snapshot (test/consumer convenience). */
  def latest(spark: org.apache.spark.sql.SparkSession, outDir: String): DataFrame = {
    val v = readPointer(outDir).getOrElse(
      throw new IllegalStateException(s"no _LATEST pointer under $outDir"))
    spark.read.parquet(s"$outDir/$v")
  }
}
