package graft.jobs

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The JSONL export shard hash q93 shares: exact modular arithmetic for
  * every Long id.
  */
class JsonlExportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("shardOf matches exact BigInt arithmetic beyond the Long-overflow id range") {
    import spark.implicits._
    // ids above 2^63 / 2654435761 ≈ 3.47e9 overflowed the raw (id * Mult)
    // form; the reduced form must equal the exact modular value everywhere
    val ids = Seq(0L, 1L, 200L, 3469387L, 3468206259L, 3468206260L,
      1234567890123L, Long.MaxValue - 1, Long.MaxValue)
    val got = ids.toDF("id")
      .select($"id", JsonlExport.shardOf($"id", 16).as("shard"))
      .as[(Long, Long)].collect().toMap
    ids.foreach { id =>
      val exact = (((BigInt(id) * JsonlExport.Mult + JsonlExport.Salt)
        mod BigInt(JsonlExport.Mod)) mod BigInt(16)).toLong
      assert(got(id) === exact, s"id=$id")
    }
  }
}
