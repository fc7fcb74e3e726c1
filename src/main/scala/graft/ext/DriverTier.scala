package graft.ext

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{broadcast, col}

/** "Fetch to the driver if small, else stay distributed" — the one
  * decision every driver-resident probe makes (drop lists, within-delta
  * pair lists, hot keys, mix thresholds), made from the OBSERVED size:
  * Shark's partial-DAG choice between broadcast and shuffle.
  */
object DriverTier {

  /** Rows each partition hands the driver: cap+1, clamped to `Int`. */
  def quota(cap: Long): Int = math.min(cap + 1L, Int.MaxValue.toLong).toInt

  /** The fetched chunks as one complete array, or None over the cap. */
  def complete[T: ClassTag](total: Long, cap: Long,
      chunks: Seq[Array[T]]): Option[Array[T]] =
    if (total > cap) None else Some(Array.concat(chunks: _*))

  /** `df`'s rows decoded on the driver, or None when there are more
    * than `cap` of them, in ONE Spark job: each partition yields at
    * most [[quota]] rows. A `limit(cap+1).collect()` would go through
    * `executeTake`'s incremental partition scans instead — measured +4
    * jobs per micro-batch across the delta chain's drop sites. A Some
    * is complete: total ≤ cap means no partition was truncated (a
    * truncating partition alone yields cap+1). Over the cap the driver
    * has still received up to (cap+1)·partitions rows before the None.
    */
  def fetchCapped[T: ClassTag](df: DataFrame, cap: Long)(
      decode: InternalRow => T): Option[Array[T]] = {
    val perPart = quota(cap)
    val chunks = df.sparkSession.sparkContext.runJob(
      df.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => it.take(perPart).map(decode).toArray)
    complete(chunks.iterator.map(_.length.toLong).sum, cap,
      chunks.toIndexedSeq)
  }
}

/** A set of long ids to drop: driver-resident ([[DropSet.Local]]) when
  * it came back under its cap, else a one-column distributed frame
  * ([[DropSet.Distributed]]). [[applyTo]] and [[restrict]] are the only
  * places an id set turns into a filter or join.
  */
sealed trait DropSet {
  import DropSet._

  def isEmpty: Boolean = this match {
    case Local(ids) => ids.isEmpty
    case Distributed(_) => false
  }

  /** `df` without the rows whose `key` is in the set. Precondition:
    * `key` is never NULL. The literal `NOT isin` drops a NULL-key row
    * where the anti-joins keep it, so the tiers agree only on non-null
    * keys; `Curation.qualityFiltered` rejects NULL `doc_id` for both
    * curation chains.
    */
  def applyTo(df: DataFrame, key: String = "doc_id"): DataFrame =
    join(df, key, anti = true)

  /** `df` restricted to the rows whose `key` is in the set. */
  def restrict(df: DataFrame, key: String = "doc_id"): DataFrame =
    join(df, key, anti = false)

  private def join(df: DataFrame, key: String, anti: Boolean): DataFrame = {
    val how = if (anti) "left_anti" else "left_semi"
    this match {
      case Local(ids) if anti && ids.isEmpty => df
      case Local(ids) if ids.length <= IsinLiteralMax =>
        val in = col(key).isin(ids.toIndexedSeq: _*)
        df.filter(if (anti) !in else in)
      case Local(ids) =>
        val s = df.sparkSession
        import s.implicits._
        df.join(broadcast(ids.toIndexedSeq.toDF(key)), Seq(key), how)
      case Distributed(ids) => df.join(ids.toDF(key), Seq(key), how)
    }
  }
}

object DropSet {
  final case class Local(ids: Array[Long]) extends DropSet
  final case class Distributed(ids: DataFrame) extends DropSet

  val empty: DropSet = Local(Array.emptyLongArray)

  /** Above this many ids a literal `In` is a pathological expression
    * tree, so a Local set joins as a broadcast LocalRelation instead
    * (whose build submits no Spark job).
    */
  private val IsinLiteralMax = 10000

  /** `ids` when they were fetched, else the one-column frame `df`. */
  def apply(ids: Option[Array[Long]], df: DataFrame): DropSet =
    ids.fold[DropSet](Distributed(df))(Local(_))

  /** Column 0 of `df` (long ids) fetched under `cap`, else `df` itself. */
  def fetch(df: DataFrame, cap: Long): DropSet =
    DropSet(DriverTier.fetchCapped(df, cap)(_.getLong(0)), df)
}
