package graft.jobs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The shard assignment of a sharded JSONL corpus export — the step that
  * ends a training-data pipeline (ingest → clean → dedup → mix → export).
  * q93_shard_balance reports the balance of exactly this hash
  * (`((id % 1000000007) * 2654435761 + 17) % 1000000007 % nShards` —
  * injective below the modulus, overflow-safe for every Long id; see
  * [[shardOf]]), so a writer that partitions on it can check its balance
  * with q93 before it writes: `df.withColumn("shard", shardOf(...))
  * .write.partitionBy("shard").json(...)`.
  */
object JsonlExport {

  val Mult = 2654435761L
  val Salt = 17L
  val Mod = 1000000007L

  /** q93's shard hash, shared verbatim. The id is reduced mod `Mod`
    * BEFORE the multiply: mathematically identical to `id * Mult % Mod`
    * (modular arithmetic) for every id, but the raw form overflows a
    * Long once id ≥ 2^63 / 2654435761 ≈ 3.47e9 — Spark would silently
    * wrap while an int64 SQL oracle errors, breaking both the q93
    * parity claim and the balance guarantee exactly at the corpus sizes
    * that need sharding. Reduced first, the product is bounded by
    * (Mod-1) * Mult ≈ 2.66e18 < 2^63. Injectivity holds for
    * id ∈ [0, Mod); above that ids collide mod Mod by construction —
    * fine for balance.
    */
  def shardOf(id: Column, nShards: Int): Column =
    pmod(pmod(pmod(id, lit(Mod)) * Mult + Salt, lit(Mod)), lit(nShards))
}
