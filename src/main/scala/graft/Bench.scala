package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line of per-query wall-clock.
  *
  * Protocol: a SMALL warm-up at sf0.001 (parquet reader, shuffle, window,
  * decode UDF — the JIT-heavy paths), then one timed pass at the target
  * SF. Warming with ALL queries was counterproductive: 90 query runs in
  * one 8g JVM produced GC pressure that inflated later timings ~20x.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // the shared engine session factory (Sessions.build): master/
    // shuffle-partitions from SPARK_GRAFT_CPUS, codegen cache sized to
    // the workload — the SAME session shape Verify and QueryProbe run,
    // so no engine conf is bench-only (round-16 verdict item).
    val spark = Sessions.build(cpus)

    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      // one query per table/kernel family, so JIT + reader warm-up cost
      // lands here instead of on whichever timed query runs first
      Seq("q1_agg", "q5_window_lead", "q4_join_agg", "ais_dispatch",
        "q17_doc_stats", "q23_cosine_topk", "q30_sessionize",
        "q13_routing", "q60_reachability",
        // round-5 kernel families: gram kernel, regexp scrub, bloom
        // probe, distributed prefix scan
        "q75_span_dedup", "q77_pii_redact", "q81_bloom_decontaminate",
        "q87_token_budget_sample",
        // round-9 families: BM25 tokenize/idf path, TopKByScore udaf
        "q102_bm25", "q70_batch_ann").foreach { q =>
        SparkEntry.queries.get(q).foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
        }
      }
      graft.ext.Dedup.clearSignatureCaches(blocking = true)
    }

    // Best-of-N per query: the host shows heavy steal time, so a single
    // pass can be inflated 5-20x by contention (BENCH_r01/r02 both were).
    // The minimum across runs is the closest observable to true cost.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Optional comma-separated allowlist: time only these queries (A/B
    // isolation experiments — e.g. one query in a fresh JVM to separate
    // per-query cost from whole-suite JVM pressure).
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).toSet)
    val benchQueries = filter match {
      case Some(f) => SparkEntry.queries.filter { case (k, _) => f(k) }
      case None => SparkEntry.queries
    }
    // Round-5 drift fix: the dedup operators register cached signature
    // tables that the queries never release themselves. 106 queries x 3
    // passes in one JVM accumulated those blocks until unchanged queries
    // ran 1.4-1.8x slower than r4 purely from storage+GC pressure.
    // Release them BETWEEN timings (blocking, so eviction cost is paid
    // outside the timed window).
    def timedPass(): Map[String, Double] = benchQueries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      graft.ext.Dedup.clearSignatureCaches(blocking = true)
      name -> dt
    }
    val passes = (1 to runs).map { _ =>
      val p = timedPass()
      System.gc() // compact between passes, not inside anyone's timing
      p
    }
    val results = passes.head.keys.map { name =>
      name -> passes.map(_(name)).min
    }.toMap

    // HOST-DRIFT CONTROL (always on, ~2 s): a frozen pure-Spark workload
    // that touches no graft code, so its cost is identical across
    // commits — cross-round per-query deltas divide out ambient host
    // drift via the control_sec ratio (BASELINE.md protocol). The sorted
    // result is COLLECTED (1000 rows): under a bare count() the
    // optimizer eliminates the sort and prunes the sum, and the executed
    // workload silently diverges from the documented one. Do not edit
    // this block: changing it invalidates the cross-round series.
    val controlSec = {
      import org.apache.spark.sql.functions.sum
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 20000000L, 1L, 32)
          .selectExpr("id % 1000 AS k", "id AS v")
          .groupBy("k").agg(sum("v").as("s"))
          .orderBy("k").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once(); (1 to 3).map(_ => once()).min // warm once, min of 3
    }

    // SECOND DRIFT CONTROL (frozen round 10): the 0.4 s control above
    // carries ±20-35% noise of its own (measured round 9: two runs
    // minutes apart on an idle host read 0.466 vs 0.569), so a ~2x
    // cross-round ratio can be mostly control noise. This one is ~10x
    // longer (~3-4 s: 24M rows through a 1M-group hash-agg shuffle,
    // re-agg to 1000 groups, sort, COLLECT the 1000 rows — collected,
    // not counted, same reason as above), so its relative noise is far
    // smaller and it exercises a second axis (wide hash-agg spill
    // pressure vs the small control's scheduling+shuffle cost). Emits
    // min-of-3 AND the spread (max-min)/min so readers can see the
    // run-to-run noise directly. Do not edit this block either:
    // changing it invalidates the cross-round series it starts.
    val (control2Sec, control2Spread) = {
      import org.apache.spark.sql.functions.sum
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 24000000L, 1L, 32)
          .selectExpr("id % 1000000 AS k", "id AS v")
          .groupBy("k").agg(sum("v").as("s"))
          .selectExpr("k % 1000 AS kk", "s")
          .groupBy("kk").agg(sum("s").as("ss"))
          .orderBy("kk").collect()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val xs = (1 to 3).map(_ => once())
      (xs.min, (xs.max - xs.min) / xs.min)
    }

    def r3(v: Double): String = f"$v%.3f"

    // PAIRED CONTROL RUN (ON BY DEFAULT since round 10; opt out with
    // SPARK_GRAFT_CONTROL_COMMIT="" / "none" / "off"): automates the
    // BASELINE.md drift-adjudication recipe — check the control commit
    // out into a worktree, bench a subset of queries there minutes
    // apart from the identical HEAD timings, and emit head/control
    // ratio over the COMMON subset. "auto" (the default) resolves the
    // last driver round-snapshot commit. Promoted to default because
    // round 9 showed the frozen in-band control alone can misestimate
    // drift by ~2x — the paired same-session ratio is the
    // authoritative signal when they disagree. Failures degrade to a
    // control_error field — the main bench numbers never depend on it.
    //
    // Subset choice (round 12): the 10 slowest HEAD queries PLUS a
    // drift watchlist (SPARK_GRAFT_CONTROL_WATCH, default = the
    // queries the round-11 small-query drift flagged). Round 11's
    // control had n=1 because HEAD's 5 slowest were all new that round
    // — pinning the set to slowest ∪ watchlist keeps the intersection
    // with the snapshot ≥ the watchlist size, so drift claims on the
    // STANDING surface stay falsifiable. Queries the control commit
    // lacks simply drop out of its own filter; the ratio and the
    // per-query control_detail line cover the intersection only.
    val controlSpec = sys.env.getOrElse("SPARK_GRAFT_CONTROL_COMMIT", "auto")
    // SELF-UPDATING watchlist (round-13 protocol): default = the
    // PREVIOUS round's top raw movers on the small common set (refresh
    // each round from the VERDICT/driver diff) ∪ the heavy common
    // queries (q117/q122 — their raw numbers dominate the total, so
    // they must always be pair-adjudicable). The r11-era static list
    // retired; override via SPARK_GRAFT_CONTROL_WATCH.
    val controlWatch = sys.env.getOrElse("SPARK_GRAFT_CONTROL_WATCH",
      "q97_exact_k_sample,q89_lang_heavy_hitters,q79_inverted_index," +
        "q63_sequence_packing,q117_curation_pipeline,q122_incremental_curation")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val controlFields: String = Some(controlSpec)
      .filter(s => s.nonEmpty && s != "none" && s != "off").map { spec =>
      try {
        import scala.sys.process._
        val repo = new java.io.File(".").getCanonicalFile
        val commit =
          (if (spec == "auto")
            Process(Seq("git", "log", "--grep", "^round [0-9]*:", "-1",
              "--format=%H"), repo).!!
          else Process(Seq("git", "rev-parse", spec), repo).!!).trim
        require(commit.nonEmpty, s"cannot resolve control commit '$spec'")
        val wt = new java.io.File(s"/tmp/graft_bench_ctrl_${commit.take(12)}")
        if (!new java.io.File(wt, "build.sbt").isFile)
          Process(Seq("git", "worktree", "add", "--detach", "--force",
            wt.getAbsolutePath, commit), repo).!!
        val subset = (results.toSeq.sortBy(-_._2).take(10).map(_._1) ++
          controlWatch.filter(results.contains)).distinct
        val out = new StringBuilder
        Process(Seq("sbt", "-batch", "runMain graft.Bench"), wt,
          "SPARK_GRAFT_SF_DIR" -> sfDir,
          "SPARK_GRAFT_CPUS" -> cpus,
          "SPARK_GRAFT_BENCH_RUNS" -> runs.toString,
          "SPARK_GRAFT_BENCH_FILTER" -> subset.mkString(","),
          "SPARK_GRAFT_CONTROL_COMMIT" -> "" // no recursion
        ).!(ProcessLogger(line => { out.append(line).append('\n'); () }))
        val full = out.toString.linesIterator
          .filter(_.contains("\"metric\":\"total_full\"")).toSeq.lastOption
          .getOrElse(sys.error("control run printed no total_full line"))
        val qre = "\"(\\w+)\":([0-9]+\\.[0-9]+)".r
        val ctrl = qre.findAllMatchIn(full)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        val common = subset.filter(ctrl.contains)
        require(common.nonEmpty, "no common queries with control commit")
        // per-query [head, ctrl] pairs: on their own line (humans) AND
        // inside the final machine line — the driver tails stdout and
        // parses the LAST line only, and round 12 showed the pairs are
        // what makes per-query drift claims adjudicable from
        // BENCH_r{N}.json alone. ~45 bytes/pair × ≤16 pairs fits the
        // driver's ~2 KB tail with room to spare.
        val pairs = common.sorted.map(q =>
          "\"" + q + "\":[" + r3(results(q)) + "," + r3(ctrl(q)) + "]")
          .mkString("{", ",", "}")
        println(s"""{"metric":"control_detail","commit":"${commit.take(12)}","pairs":$pairs}""")
        val headSum = common.map(results).sum
        val ctrlSum = common.map(ctrl).sum
        s""","control_commit":"${commit.take(12)}","control_n":${common.size},""" +
          s""""control_head_sec":${r3(headSum)},"control_ctrl_sec":${r3(ctrlSum)},""" +
          s""""control_ratio":${r3(headSum / ctrlSum)},""" +
          s""""control_detail":$pairs"""
      } catch { case e: Throwable =>
        // full JSON-string escape: a backslash or control char in the
        // exception message must not corrupt the machine line the
        // driver parses (same discipline as Verify's oracle dump)
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(120).flatMap {
            case '"'  => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => f"\\u${c.toInt}%04x"
            case c => c.toString
          }
        s""","control_error":"$msg""""
      }
    }.getOrElse("")

    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query map first (humans / logs)...
    println(s"""{"metric":"total_full","value":${r3(total)},"unit":"sec","runs":$runs,"queries":$qs,"sf":"$sfDir"}""")
    // ...then a compact machine line LAST: the driver tails ~2 KB of
    // stdout, and the full 79-query map exceeds that, so the final line
    // must be short and self-contained (total + 5 slowest + controls).
    val slowest = results.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // "cpus" echoed so the driver's scaling heuristic can verify the
    // core count was honored instead of inferring it from flat ratios
    // (round-16 false positive). Numeric when it parses (the driver
    // contract), quoted otherwise (e.g. a "local[*]"-style override)
    // so the machine line stays valid JSON either way.
    val cpusJson = cpus.toIntOption.map(_.toString).getOrElse("\"" + cpus + "\"")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"n_queries":${results.size},"cpus":$cpusJson,"control_sec":${r3(controlSec)},"control2_sec":${r3(control2Sec)},"control2_spread":${r3(control2Spread)}$controlFields,"queries":$slowest,"sf":"$sfDir"}""")
    spark.stop()
  }
}
