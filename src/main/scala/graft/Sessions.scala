package graft

import org.apache.spark.sql.SparkSession

/** ONE session factory for every harness main (Bench, Verify,
  * QueryProbe, Explain …): the engine owns the session shape, so a
  * conf that matters to the engine can never live only in the bench
  * (the round-16 verdict's "harness-resident conf" finding — the
  * codegen-cache sizing below was Bench-only, which made ~half the
  * bench win a session shape the correctness harness and deployments
  * never ran with).
  * It reads no environment: each main passes the `SPARK_GRAFT_CPUS`
  * it read.
  */
object Sessions {

  /** Build the standard graft session: local[cpus], shuffle
    * partitions = cpus (AQE coalesces below it; at cluster scale the
    * deployment sets its own), UTC, UI off, the codegen class cache
    * sized to a many-query workload, and GraftExtensions installed.
    *
    * `spark.sql.codegen.cache.maxEntries` is a STATIC conf — it must
    * land before the first session is created in the JVM, which is why
    * it lives here and not in `GraftExtensions.install` (a post-hoc
    * runtime `set` cannot change it). Default 100 re-Janino-compiles
    * every stage once a workload exceeds ~100 distinct codegen units
    * (this suite compiles ~3k per pass); 4096 covers the whole suite.
    * A caller that needs another size passes it in `extraConfs`.
    */
  def build(cpus: String,
      extraConfs: Seq[(String, String)] = Nil): SparkSession = {
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    val spark = extraConfs.foldLeft(b0)((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    spark
  }

  /** Tier cap `key` (a `spark.graft.*` conf) of `s`, the session the
    * call was handed (never the active one: [[graft.ext.DriverPool]]
    * runs actions on other threads), else `default`. A value that is
    * not a whole number fails, naming the key.
    */
  def cap(s: SparkSession, key: String, default: Long): Long =
    Option(s.conf.get(key, null)).fold(default) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be a whole number, got '$v'"))
    }
}
