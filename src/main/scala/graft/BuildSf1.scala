package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a FULL sf1-class dataset — every table, not just
  * documents — as K× namespace-disjoint replicas of an sf0.1 directory,
  * so the whole 140-query gate and the bench can run at 10× the volume
  * they were developed at.
  *
  * Replication discipline: K× data must be K INDEPENDENT copies of the
  * same problem, not K verbatim copies of one problem — verbatim
  * duplication turns every doc into an exact dup of its K−1 replicas
  * (dedup output explodes quadratically), collapses every replica
  * vector onto cos=1.0 neighbors, and multiplies every per-key group
  * instead of adding new keys. Concretely:
  *
  *  - documents: ids strided by 1e6, every token prefixed `r<k>_`
  *    (replicas are shingle-disjoint), ALL columns kept (`source`
  *    survives because the mixing/curation family groups by it);
  *    n_chars recomputed from the prefixed text (keeper policies read
  *    it);
  *  - embeddings: ids strided, replica k's dimensions cyclically
  *    rotated by k (orthogonal permutation: intra-replica cosines — and
  *    so each replica's ANN/semantic-dedup structure — are preserved
  *    exactly, inter-replica cosines scramble); replicas beyond the
  *    first never re-enter the `vec_id < 16` seed/centroid sets;
  *  - events: event ids and user ids strided (new users, same temporal
  *    shape — session/as-of/window state cardinality scales K×);
  *  - orders/lineitem/customer/supplier/part: every FK shifted by the
  *    SAME stride as its PK so join fan-outs are preserved per replica
  *    (l_orderkey↔o_orderkey, o_custkey↔c_custkey, l_suppkey↔s_suppkey,
  *    l_partkey↔p_partkey);
  *  - nation/region: copied 1× — dimensions do not grow with data.
  *
  * Usage: runMain graft.BuildSf1 <sf0.1Dir> <outDir> [k=10]
  */
object BuildSf1 {

  private val Stride = 1000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))

    def reps(build: Int => DataFrame): DataFrame =
      (0 until k).map(build).reduce(_ unionAll _)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"""{"table":"$name","rows":${
        spark.read.parquet(s"$out/$name.parquet").count()}}""")
    }

    val docs = Tables.documents(spark, src)
    write("documents", reps { rep =>
      docs.select(
        (col("doc_id") + Stride * rep).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(lit(s"r${rep}_"), t)), " ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    })

    val dim = 64
    val emb = Tables.embeddings(spark, src)
    write("embeddings", reps { rep =>
      val r = rep % dim
      val rot = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
          slice(col("embedding"), 1, r))
      val shifted = emb.select((col("vec_id") + Stride * rep).as("vec_id"),
        rot.as("embedding"), col("label"))
      if (rep == 0) shifted
      else shifted.filter(col("vec_id") % Stride >= 16)
    })

    val ev = Tables.events(spark, src)
    write("events", reps { rep =>
      ev.select((col("event_id") + Stride * rep).as("event_id"),
        col("ts"), (col("user_id") + Stride * rep).as("user_id"),
        col("event_type"), col("value"), col("props"))
    })

    write("orders", reps { rep =>
      Tables.orders(spark, src).select(
        (col("o_orderkey") + Stride * rep).as("o_orderkey"),
        (col("o_custkey") + Stride * rep).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    })
    write("lineitem", reps { rep =>
      Tables.lineitem(spark, src).select(
        (col("l_orderkey") + Stride * rep).as("l_orderkey"),
        (col("l_partkey") + Stride * rep).as("l_partkey"),
        (col("l_suppkey") + Stride * rep).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    })
    write("customer", reps { rep =>
      Tables.customer(spark, src).select(
        (col("c_custkey") + Stride * rep).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
    })
    write("supplier", reps { rep =>
      Tables.supplier(spark, src).select(
        (col("s_suppkey") + Stride * rep).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal"))
    })
    write("part", reps { rep =>
      Tables.part(spark, src).select(
        (col("p_partkey") + Stride * rep).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    })
    write("nation", Tables.nation(spark, src))
    write("region", Tables.region(spark, src))
    spark.stop()
  }
}
