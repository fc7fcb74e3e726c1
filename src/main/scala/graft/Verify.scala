package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg: comma-separated query-name subset — runs (and
  * emits oracle SQL for) only those queries. Used by the scaled-volume
  * heavy-family gate (SCALE.md), where only the documents-table dedup
  * operators are meaningful against a replicated corpus and the DuckDB
  * oracle's runtime bounds how much can be checked.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val subset = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared engine session factory: the correctness harness runs the
    // SAME session shape as Bench/QueryProbe (incl. the codegen class
    // cache sizing — previously bench-only; round-16 verdict item)
    val spark = Sessions.build(cpus)
    new java.io.File(outDir).mkdirs()
    // a typo'd subset name would otherwise produce an EMPTY oracle json
    // and check.py would report "0 pass / 0 fail" with exit 0 — a
    // silently green gate that checked nothing
    subset.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s) in subset: ${unknown.mkString(", ")}")
    }
    def keep(name: String): Boolean = subset.forall(_.contains(name))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-query registered caches so a 106-query session
      // doesn't accumulate pinned blocks (round-5 "already cached" log
      // spam / bench-drift companion fix)
      graft.ext.Dedup.clearSignatureCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
