package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{DriverTier, DropSet}

/** The driver-tier contract: [[DriverTier.fetchCapped]] returns the
  * complete row set in one Spark job at or under the cap and None over
  * it, however the rows are spread over partitions; [[DropSet]] gives
  * the rows of a plain `left_anti` (or `left_semi`) on every path.
  */
class DriverTierSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ids(n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts).toDF("id")
  // empty but with partitions (an empty range plans as a partitionless
  // local relation, which needs no job at all)
  private def none(parts: Int): DataFrame =
    ids(parts.toLong, parts).filter(col("id") < 0L)

  /** The fetch's result and the number of jobs it submitted. */
  private def fetch(df: DataFrame, cap: Long): (Option[Seq[Long]], Int) = {
    val sc = spark.sparkContext
    val group = s"fetch-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val r = try DriverTier.fetchCapped(df, cap)(_.getLong(0))
      finally sc.clearJobGroup()
    (r.map(_.toSeq.sorted), sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("fetchCapped: complete at or under the cap, None over it, one job each") {
    assert(fetch(none(4), 5) === (Some(Seq.empty), 1), "empty")
    assert(fetch(ids(5, 2), 5) === (Some(0L until 5L), 1), "exactly cap")
    assert(fetch(ids(6, 2), 5) === (None, 1), "cap + 1")
    // 64 partitions of 2 rows: no partition reaches the cap, the total
    // does — the partition quota alone must not decide
    assert(fetch(ids(128, 64), 100) === (None, 1), "over cap, spread")
    assert(fetch(ids(64, 64), 100) === (Some(0L until 64L), 1),
      "under cap, spread")
    assert(fetch(none(4), 0) === (Some(Seq.empty), 1), "cap 0, empty")
    assert(fetch(ids(1, 4), 0) === (None, 1), "cap 0, one row")
  }

  test("DropSet.applyTo and restrict equal left_anti and left_semi on every path") {
    import spark.implicits._
    val df = spark.range(0L, 30000L, 1L, 4)
      .select($"id".as("vec_id"), ($"id" % 13).as("v"))
    def rows(d: DataFrame): Seq[(Long, Long)] =
      d.as[(Long, Long)].collect().toSeq.sorted
    def check(name: String, set: DropSet, drop: Seq[Long]): Unit = {
      val dropDf = drop.toDF("vec_id")
      assert(rows(set.applyTo(df, "vec_id")) ===
        rows(df.join(dropDf, Seq("vec_id"), "left_anti")), s"$name: anti")
      assert(rows(set.restrict(df, "vec_id")) ===
        rows(df.join(dropDf, Seq("vec_id"), "left_semi")), s"$name: semi")
    }
    val few = (0L until 30000L by 7L) // 4,286 ids: the literal filter
    val many = (0L until 30000L by 2L) // 15,000 ids: the broadcast join
    assert(few.length < 10000 && many.length > 10000)
    check("Local below the literal limit", DropSet.Local(few.toArray), few)
    check("Local above the literal limit", DropSet.Local(many.toArray), many)
    check("Distributed", DropSet.Distributed(few.toDF("doc_id")), few)
    assert(DropSet.empty.isEmpty && (DropSet.empty.applyTo(df, "vec_id") eq df))
    assert(!DropSet.Distributed(Seq.empty[Long].toDF("doc_id")).isEmpty)
    // fetch picks the tier from the observed count
    val small = few.toDF("doc_id")
    assert(DropSet.fetch(small, few.length.toLong) match {
      case DropSet.Local(got) => got.sorted.toSeq === few
      case _ => false
    })
    assert(DropSet.fetch(small, few.length - 1L) === DropSet.Distributed(small))
  }
}
