package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded data shared by more than one spec. */
object TestFixtures {

  /** Seeded mixture-of-Gaussians embeddings: `nClusters` unit-scale
    * Gaussian centers, each vector = center + sigma*noise, cluster drawn
    * per-row from the same seeded stream (so the first 16 vec_ids are
    * NOT one-per-cluster — untrained first-N centroids start from a
    * biased sample, as they would in production). On uniform data any
    * 16-way partition gives recall ~ scan fraction; this is the shape
    * where trained coarse quantization pays off.
    */
  def clusteredFixture(spark: SparkSession, n: Int, dim: Int = 64,
                       nClusters: Int = 16, sigma: Double = 0.25,
                       seed: Long = 20260813L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = rnd.nextInt(nClusters)
      val v = Array.tabulate(dim)(d => (centers(c)(d) + sigma * rnd.nextGaussian()).toFloat).toSeq
      (i.toLong, v, c)
    }
    rows.toDF("vec_id", "embedding", "label").repartition(8)
  }

  /** Run `f` with each `key -> value` set in `spark`'s session conf
    * (e.g. a tier cap: −1 for [[graft.jobs.IndexExport.LocalLookupCapKey]]
    * forces every lookup onto the distributed plan, even a zero-match
    * one), restoring each key's previous value, or its absence,
    * afterwards.
    */
  def withConf[T](spark: SparkSession)(kvs: (String, Any)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v.toString) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
