package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts — the properties that decide whether these operators
  * survive a 100x scale-up, asserted on the actual physical plans so a
  * regression shows up as a test failure, not as a cluster incident:
  *
  *  - dimension joins broadcast (no shuffle of the fact side),
  *  - parquet scans receive pushed filters and pruned schemas,
  *  - tables bucketed on the join key join WITHOUT any exchange.
  */
class PlanSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("plan_wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Physical plan with the AQE wrapper peeled: AdaptiveSparkPlanExec
    * exposes no children, so a structural `collect` over the wrapped
    * plan silently matches nothing (and a "no X below Y" assertion
    * passes vacuously).
    */
  private def physical(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  test("gold build runs the decode kernel once per reassembly branch") {
    // read from a file as GoldJob.run does: over a local relation the
    // optimizer would fold the single-fragment branch away
    val dir = Files.createTempDirectory("gold_plan")
    Files.write(dir.resolve("d.log"), graft.ais.Fixtures.sentenceGroups
      .flatMap(_._2).map(s => s"\\s:stn,q:u,c:1673222400*00$s")
      .mkString("\n").getBytes("UTF-8"))
    val p = physical(graft.jobs.GoldJob.goldOf(spark.read.text(dir.toString)))
    def kernelCalls(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.collect { case k: org.apache.spark.sql.graft.AisDecode => k }.size
    // one AisDecode for single-fragment messages, one for multi-fragment
    // ones: a filter on `d` pushed below the exchange would add more
    assert(p.collect { case n => n.expressions.map(kernelCalls).sum }.sum === 2,
      p.treeString)
    assert(p.collect {
      case f: org.apache.spark.sql.execution.FilterExec if kernelCalls(f.condition) > 0 => f
    }.isEmpty, p.treeString)
  }

  test("dimension join broadcasts the small side") {
    val p = plan(graft.SparkEntry.queries("q3_broadcast_join")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("filter and projection push into the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"), p)
    // schema pruned to the two selected columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("tables bucketed on the join key join with zero exchanges") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory catalog resets per JVM but managed-table locations
    // persist on disk — clear them or saveAsTable fails with
    // LOCATION_ALREADY_EXISTS on the next run
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("li_b", "ord_b").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    spark.read.parquet(s"$sf/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable("li_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable("ord_b")

    val joined = spark.sql(
      """SELECT /*+ MERGE(li_b) */ o_custkey, l_quantity
         FROM li_b JOIN ord_b ON l_orderkey = o_orderkey""")
    val p = plan(joined)
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n${p.take(1500)}")
    // the join is also correct, not just shuffle-free
    assert(joined.count() ===
      spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("band-bucketed dedup store generates candidates without an exchange") {
    // dedup-at-rest layout: persist the exploded (band, key, doc_id)
    // signature table bucketed by the FULL join key (band, key) — since
    // requireAllClusterKeysForCoPartition, a partial bucket key still
    // shuffles — so the LSH candidate self-join reads co-located
    // buckets and needs NO shuffle. At 100 TB this is the difference
    // between re-shuffling the corpus per dedup run and joining in
    // place.
    import graft.ext.Dedup
    spark.sql("DROP TABLE IF EXISTS dedup_bands")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val whDir = new java.io.File(wh, "dedup_bands")
    if (whDir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(whDir)
    }
    val exploded = Dedup.signatureFrame(spark.read.parquet(s"$sf/documents.parquet"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
    exploded.write.bucketBy(8, "band", "key").sortBy("band", "key")
      .format("parquet").saveAsTable("dedup_bands")

    val t = spark.table("dedup_bands")
    val cand = t.as("l").hint("merge")
      .join(t.as("r"), Seq("band", "key"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc1"), col("r.doc_id").as("doc2"))
    val p = plan(cand)
    assert(p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("Exchange"),
      s"bucketed candidate join must not shuffle:\n${p.take(1500)}")
    // and the layout changes nothing semantically
    val fromStore = cand.count()
    val inPlace = exploded.as("l").join(exploded.as("r"), Seq("band", "key"))
      .filter(col("l.doc_id") < col("r.doc_id")).count()
    assert(fromStore === inPlace)
    assert(fromStore > 0, "corpus should produce at least one candidate")
  }

  test("pair-join operators never degrade to nested-loop or cartesian plans") {
    // the LSH/blocking rewrites exist to avoid O(n*m) joins — if a code
    // change loses the equi-join keys, Catalyst silently falls back to
    // BroadcastNestedLoopJoin/CartesianProduct and the operator stops
    // scaling; lock it
    for (q <- Seq("q21_minhash_pairs", "q22_bigram_jaccard", "q25_embedding_near_dup",
        "q31_interval_join", "q33_simhash64_pairs", "q43_fuzzy_match",
        "q75_span_dedup", "q78_snapshot_diff", "q80_dedup_keep_longest",
        "q81_bloom_decontaminate", "q82_vocab_coverage",
        "q83_bigram_lm_score", "q90_cluster_size_histogram",
        "q91_shingle_novelty", "q94_containment_dedup",
        "q108_semantic_dedup")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(600)}")
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(600)}")
    }
  }

  test("IVF cell-partitioned store prunes partitions on probe") {
    import org.apache.spark.sql.functions.col
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val dir = Files.createTempDirectory("ivf_store").toString
    emb.withColumn("cell", Similarity.nearestCentroid(cents, col("embedding")))
      .write.partitionBy("cell").mode("overwrite").parquet(dir)
    // a probe of 2 cells must scan only those partitions
    val probe = spark.read.parquet(dir).filter(col("cell").isin(0L, 3L))
    val p = plan(probe)
    assert(p.contains("PartitionFilters"), p.take(800))
    // partition columns read back type-inferred (int here)
    val scanned = probe.select(col("cell")).distinct().collect()
      .map(_.getAs[Number](0).longValue).toSet
    assert(scanned.subsetOf(Set(0L, 3L)))
    // partition pruning shows in the scan's selected partition count
    val files = probe.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(files.relation.location.listFiles(files.partitionFilters, Nil)
      .map(_.values).length <= 2, "probe must touch at most nprobe partitions")
  }

  test("q72 probes broadcast; corpus shuffles only for the top-k agg") {
    // Multi-probe RP-LSH at scale: the 9-probe query set must BROADCAST
    // onto the bucketed corpus (never shuffle the corpus for the join),
    // and the only exchange is the per-query top-k aggregation whose
    // shuffle carries k tuples per (query x partition).
    val df = graft.SparkEntry.queries("q72_rp_lsh_topk")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(1200))
    // native bucket kernel in the scan stage, not the interpreted HOFs
    assert(p.contains("rp_bucket"), p.take(1200))
    assert(!p.contains("aggregate(zip_with"), p.take(1200))
  }

  test("q75's gram table uses the native kernel, not the zip_with chain") {
    val p = plan(graft.SparkEntry.queries("q75_span_dedup")(spark, sf))
    assert(p.contains("gram_codes"), p.take(800))
    assert(!p.contains("zip_with"), p.take(800))
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("q81's Bloom probe filters map-side, below every shuffle") {
    // the whole point of the Bloom prefilter is pruning the train-side
    // explode BEFORE the join shuffle — if the filter drifts above an
    // exchange, the shuffle carries the unpruned corpus and the op
    // stops paying for itself at scale; assert the position
    // structurally (not via string offsets)
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.SparkEntry.queries("q81_bloom_decontaminate")(spark, sf)
    val bloomFilters = physical(df).collect {
      case f: FilterExec
          if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, "plan lost the Bloom probe entirely")
    bloomFilters.foreach { f =>
      val shufflesBelow = f.child.collect { case e: ShuffleExchangeLike => e }
      assert(shufflesBelow.isEmpty,
        s"Bloom probe must run before the first shuffle:\n${f.toString.take(800)}")
    }
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("q79's top-20 is a bounded TakeOrdered, not a global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val df = graft.SparkEntry.queries("q79_inverted_index")(spark, sf)
    val takeOrdered = physical(df).collect {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty,
      df.queryExecution.executedPlan.toString.take(800))
  }

  test("q77 PII scrub is a pure narrow map — zero exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = graft.SparkEntry.queries("q77_pii_redact")(spark, sf)
    val shuffles = physical(df).collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      df.queryExecution.executedPlan.toString.take(800))
  }

  test("q84 broadcasts the centroid table; assignment never shuffles the corpus") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val df = graft.SparkEntry.queries("q84_cluster_profile")(spark, sf)
    val p = physical(df)
    // the 8-row centroid cross join is a BROADCAST nested loop (bounded
    // build side) — a plain CartesianProduct would mean the broadcast
    // hint was lost and the corpus shuffles for assignment
    val bnl = p.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.nonEmpty, p.toString.take(800))
    assert(!p.toString.contains("CartesianProduct"), p.toString.take(800))
    // no shuffle below the join: assignment is map-side
    bnl.foreach { j =>
      val shuffles = j.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty, j.toString.take(800))
    }
  }

  test("the heavy corpus queries scan documents.parquet exactly once") {
    // the q92/q95 class of bug, caught mechanically: a composition that
    // forgets to cache (or caches the wrong frame) re-scans the corpus
    // per consumer — invisible at sf0.001, a doubled 100 TB read at
    // scale. graft.PlanShape does the subtle traversal (through the AQE
    // wrapper, INTO cached relations counted once per cache) — shared
    // with `graft.Explain --audit` so tool and contract cannot drift.
    def documentScans(root: org.apache.spark.sql.execution.SparkPlan): Int =
      graft.PlanShape.count(root).tableScans("documents")
    // q91/q92/q95 are the original double-scan fixes (round 6) — held
    // here so the cache that collapses their two consumers to one scan
    // can't silently drop out
    // q102 holds its cached-base contract (stats + tf both ride one
    // corpus read); q103/q104 are single-scan narrow maps by design
    for (q <- Seq("q22_bigram_jaccard", "q33_simhash64_pairs",
        "q65_dedup_components",
        "q80_dedup_keep_longest", "q81_bloom_decontaminate",
        "q91_shingle_novelty", "q92_token_kl_drift",
        "q95_length_quantiles",
        "q102_bm25", "q103_vocab_richness", "q104_resize",
        "q105_bm25_batch", "q107_hybrid_rrf",
        // q110: BOTH serving batches must ride the one cached postings
        // build — a second documents scan means the index stopped being
        // query-independent
        "q110_bm25_serving")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val n = documentScans(physical(df))
      assert(n <= 1, s"$q scans documents $n times:\n" +
        physical(df).toString.take(1200))
      graft.ext.Dedup.clearSignatureCaches()
    }
  }

  test("q117 composed pipeline pays ONE documents scan and ONE embeddings scan") {
    // the per-stage gates prove each stage alone; what a 100 TB bill is
    // made of is how many CORPUS READS the composed lineage pays. The
    // cleaned corpus is cached once and every stage derives from it, so
    // the whole nine-stage pipeline must show exactly one documents
    // file scan (inside the cache build) and one embeddings file scan
    // (inside the cell-assignment cache) in its executed plan. A
    // regression here — a stage re-rooting itself on the parquet
    // instead of the cache — multiplies the dominant cost at scale.
    val df = graft.SparkEntry.queries("q117_curation_pipeline")(spark, sf)
    val c = graft.PlanShape.count(physical(df))
    assert(c.tableScans("documents") <= 1,
      s"composed pipeline scans documents ${c.tableScans("documents")}x:\n" +
        physical(df).toString.take(1500))
    assert(c.tableScans("embeddings") <= 1,
      s"composed pipeline scans embeddings ${c.tableScans("embeddings")}x:\n" +
        physical(df).toString.take(1500))
    // and no stage lost its equi-join keys to a cartesian fallback
    assert(c.cartesians === 0)
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("q122 incremental ingest pays one documents scan and one embeddings scan") {
    // the incremental twin of the q117 pin. The store chain runs once
    // at construction (eager localCheckpoint — the persisted-table
    // boundary production reads the store through), so the SERVED plan
    // must derive every delta stage from the one cached cleaned corpus
    // and the checkpointed store: one documents file scan, one
    // embeddings file scan, zero cartesians.
    val df = graft.SparkEntry.queries("q122_incremental_curation")(spark, sf)
    val c = graft.PlanShape.count(physical(df))
    assert(c.tableScans("documents") <= 1,
      s"incremental ingest scans documents ${c.tableScans("documents")}x:\n" +
        physical(df).toString.take(1500))
    assert(c.tableScans("embeddings") <= 1,
      s"incremental ingest scans embeddings ${c.tableScans("embeddings")}x:\n" +
        physical(df).toString.take(1500))
    assert(c.cartesians === 0)
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("exact-dedup stages shuffle on the text HASH, never on raw text alone") {
    // at 100 TB the shuffle key of the exact-dedup stages is the
    // document body unless the plan leads with a hash: every exchange
    // that partitions on text must carry xxhash64(text) alongside it,
    // so the shuffle-side sort/compare cost is 8 bytes per comparison,
    // not the document length (text stays in the key for exactness)
    def pinTextShuffles(tag: String,
        df: org.apache.spark.sql.DataFrame): Unit = {
      df.count()
      val shuffles = graft.PlanShape.shuffles(physical(df))
      val onText = shuffles.map(_.outputPartitioning.toString)
        .filter(p => p.contains("text#"))
      assert(onText.nonEmpty, s"$tag lost its text-keyed exchange entirely")
      // the hash rides the key as a pre-projected alias: an aggregate
      // names it _groupingexpression#L, a window _w0#L — either way the
      // text column never partitions an exchange alone, and the
      // computed expression must actually BE the xxhash64 (checked on
      // the plan string below)
      onText.foreach(p => assert(
        p.contains("xxhash64") || p.contains("_groupingexpression") ||
          p.contains("_w0#"),
        s"$tag shuffles raw text without the leading hash: $p"))
      assert(physical(df).toString.contains("xxhash64"),
        s"$tag's plan computes no xxhash64 — the hash key is gone")
      graft.ext.Dedup.clearSignatureCaches()
    }
    // q20's aggregate path
    pinTextShuffles("q20_dedup_exact",
      graft.SparkEntry.queries("q20_dedup_exact")(spark, sf))
    // the curation stage-3 window is pinned on the SHARED helper both
    // q117 and q122 call — the composed pipelines truncate lineage
    // behind RDD/cache boundaries, so the stage plan is only visible
    // here
    val docs = graft.queries.Curation.clean(
      spark.read.parquet(s"$sf/documents.parquet"))
    pinTextShuffles("exactKeepMin",
      graft.queries.Curation.exactKeepMin(docs))
  }

  test("q105 batch BM25: every small side broadcasts, none shuffles the corpus") {
    // the batch-retrieval contract: term set, df, corpus stats, and the
    // query fan-out are all broadcast joins — a SortMergeJoin anywhere
    // means a query-table change started shuffling corpus-sized rows
    val df = graft.SparkEntry.queries("q105_bm25_batch")(spark, sf)
    df.count() // let AQE finalize join strategies
    val p = physical(df).toString
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("q110 serving BM25: the indexed path holds the same broadcast-only contract") {
    // the serving twin of the q105 pin: term-set restriction of the
    // postings, the df restriction, the stats attach, and the query
    // fan-out must all broadcast — a SortMergeJoin means a serving
    // batch started shuffling the postings table per query batch
    val df = graft.SparkEntry.queries("q110_bm25_serving")(spark, sf)
    df.count()
    val p = physical(df).toString
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("q108 semantic dedup: one embeddings scan; pair join keyed on the cell") {
    // the SemDeDup contract: the assigned frame is cached so both sides
    // of the pair self-join ride ONE embeddings read (at 100 TB a second
    // scan is a second corpus read), and the pair join is an EQUI-join
    // on the cluster cell — losing that key would silently regenerate
    // corpus-quadratic candidates via a nested-loop plan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = graft.SparkEntry.queries("q108_semantic_dedup")(spark, sf)
    val p = physical(df)
    assert(graft.PlanShape.count(p).tableScans("embeddings") <= 1,
      p.toString.take(1200))
    // every join in the plan is an equi-join (hash or sort-merge); the
    // pair join carries `cell` in its keys
    val joinKeys = p.collect {
      case j: BroadcastHashJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: SortMergeJoinExec => j.leftKeys
    }
    assert(joinKeys.exists(_.exists(_.toString.contains("cell"))),
      p.toString.take(1200))
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("AQE splits a skewed join partition at runtime") {
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      import spark.implicits._
      // 90% of 200k rows share key 7 -> one oversized shuffle partition
      val left = spark.range(200000).select(
        when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 50).as("k"),
        $"id", lit("x" * 64).as("pad"))
      val right = spark.range(50).select($"id".as("rk"), lit("dim").as("attr"))
      val j = left.join(right, $"k" === $"rk")
      // execute THIS dataframe's plan via collect (count()/foreach plan
      // separate queries and leave j's adaptive plan unfinalized)
      j.collect()
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew"), finalPlan.take(1200))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native expressions stay inside whole-stage codegen") {
    val q14 = graft.SparkEntry.queries("q14_point_in_polygon")(spark, sf)
    val cg = q14.queryExecution.executedPlan.toString
    // the filter/project stage containing the expression is codegen'd
    // (stages are numbered "*(n)"); a CodegenFallback node would appear
    // outside any starred stage
    assert(cg.contains("*("), cg.take(800))
  }

  test("runJob appears in src/main only in DriverTier and GraftExec") {
    // every "fetch to the driver if small" goes through
    // DriverTier.fetchCapped; GraftExec.checkpointCounted fuses its
    // capped key fetch into the checkpoint action under the same rules
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(Files.isDirectory(root), "spec must run from the repo root")
    val allowed = Set("DriverTier.scala", "GraftExec.scala")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !allowed(p.getFileName.toString))
      .filter(p => "runJob\\s*\\(".r.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .toList
    assert(offenders.isEmpty,
      s"runJob outside DriverTier/GraftExec: ${offenders.mkString(", ")}")
  }

  test("src/main reads parquet through the column-reader kernel, never the example Group API") {
    // LocalLookup's readColumns reads values a column at a time; the
    // example record assembly (Group + ColumnIOFactory) it replaced must
    // not come back beside it, imported or fully qualified
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(Files.isDirectory(root), "spec must run from the repo root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => "org\\.apache\\.parquet\\.example\\b|\\bColumnIOFactory\\b".r
        .findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .toList
    assert(offenders.isEmpty, "org.apache.parquet.example or ColumnIOFactory " +
      s"in: ${offenders.mkString(", ")}")
  }

  test("harness surface: mains, session builder, listener and capped fetches stay with their owners") {
    // five mains (the driver contract, the data builder and two
    // diagnostics), one session factory, one job listener; the
    // "limit(cap + 1)" probe of a capped fetch lives only in
    // DriverTier.fetchCapped (runJob has its own check above)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), "spec must run from the repo root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toList
    val owners = Seq(
      "def main\\(" -> Set("graft/Bench.scala", "graft/Verify.scala",
        "graft/QueryProbe.scala", "graft/Explain.scala", "graft/BuildSf1.scala"),
      "SparkSession\\.builder" -> Set("graft/Sessions.scala"),
      "SparkListener" -> Set("graft/QueryProbe.scala"),
      "limit\\(.{0,60}?\\+\\s*1" -> Set("graft/ext/DriverTier.scala"))
    for ((pattern, allowed) <- owners) {
      val re = pattern.r
      val offenders = sources.collect {
        case (path, src) if !allowed(path) && re.findFirstIn(src).isDefined =>
          path
      }
      assert(offenders.isEmpty,
        s"`$pattern` outside ${allowed.mkString(", ")}: ${offenders.mkString(", ")}")
    }
    // one copy of the MinHash Jaccard check (Dedup's shared |t1 ∩ t2|)
    // and one hot-bucket default (Dedup.DefaultMaxBucket)
    val jaccard = "array_intersect\\(col\\(\"t1\"\\)".r
    val copies = sources.map { case (_, src) => jaccard.findAllIn(src).size }.sum
    assert(copies == 1, s"the Jaccard expression is written $copies times")
    val literal = sources.collect {
      case (path, src)
          if "maxBucket: Int = 1000\\b".r.findFirstIn(src).isDefined => path
    }
    assert(literal.isEmpty, s"`maxBucket: Int = 1000` in ${literal.mkString(", ")}")
  }

  test("src/main members are reached") {
    // src/main holds only what a main, a declared query, the live streams
    // or the benchmark run: every public top-level definition, and every
    // public member of a top-level object or class, must be named in
    // another src/main file, in perfbench/src, or in its own file beyond
    // its definition. Overrides, mains and the objects holding them, and
    // extractor `unapply`s (called by pattern syntax) are exempt, and so
    // is what is private or package-private. Code only specs reach is
    // deleted; each exception below names why it stays: the COVERAGE row
    // of a reference capability, the parity spec that compares against
    // it, or `spec hook`.
    val allowed = Map(
      "FanoutHub.liveClients" -> "S4/S5",
      "FanoutHub.shutdown" -> "S4/S5",
      "SocketFanoutServer" -> "S4/S5",
      "WebSocketFanoutServer" -> "S4/S5",
      "FanoutSink" -> "S4/S5",
      "UpsertSink" -> "S7/R12",
      "StreamOps.dedupWithinWatermark" -> "streaming bounded-state dedup",
      "StreamOps.trackExpiry" -> "event-time state expiry (live-key tracking)",
      "Sources.ivefStream" -> "S10",
      "GoldJob.statics" -> "PipelineSpec: single-pass gold == two-input as-of join",
      "Dedup.simhash16Hof" -> "VecMathSpec",
      "Pq.encodeHof" -> "AdvancedOpsSpec: native PqEncode == HOF encode",
      "Similarity.cosineHof" -> "VecMathSpec, ExtensionsSpec",
      "Similarity.rpBucketHof" -> "VecMathSpec",
      "TextStats.fingerprintHof" -> "VecMathSpec",
      "TextStats.repetitionStatsUdf" -> "VecMathSpec",
      "TextStats.tokenCodesHof" -> "VecMathSpec",
      "LocalLookup.clearLayouts" -> "spec hook",
      "PlanShape.fileScans" -> "spec hook",
      "PlanShape.shuffles" -> "spec hook")

    import scala.jdk.CollectionConverters._
    def read(dir: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir)
      assert(Files.isDirectory(root), "spec must run from the repo root")
      Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => p.toString.replace('\\', '/') ->
          new String(Files.readAllBytes(p), "UTF-8"))
        .toMap
    }
    // (source without comments, source without comments or string
    // literals): names count inside strings (SQL interpolates constants),
    // declarations and braces only outside them
    def lex(src: String): (String, String) = {
      val kept = new StringBuilder
      val bare = new StringBuilder
      var i = 0
      def literal(end: Int): Unit = {
        kept ++= src.substring(i, end); bare ++= "\"\""; i = end
      }
      while (i < src.length) {
        if (src.startsWith("//", i)) {
          while (i < src.length && src(i) != '\n') i += 1
        } else if (src.startsWith("/*", i)) {
          var depth = 0
          while ({
            if (src.startsWith("/*", i)) { depth += 1; i += 2 }
            else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
            else i += 1
            depth > 0 && i < src.length
          }) ()
          kept += ' '; bare += ' '
        } else if (src.startsWith("\"\"\"", i)) {
          val close = src.indexOf("\"\"\"", i + 3)
          var end = if (close < 0) src.length else close + 3
          while (end < src.length && src(end) == '"') end += 1
          literal(end)
        } else if (src(i) == '"') {
          var j = i + 1
          while (j < src.length && src(j) != '"' && src(j) != '\n')
            j += (if (src(j) == '\\') 2 else 1)
          literal(math.min(j + 1, src.length))
        } else if (src(i) == '\'' && i + 2 < src.length &&
            (src(i + 2) == '\'' || src(i + 1) == '\\')) {
          literal(src.indexOf('\'', i + (if (src(i + 1) == '\\') 3 else 2)) + 1)
        } else {
          kept += src(i); bare += src(i); i += 1
        }
      }
      (kept.toString, bare.toString)
    }

    val main = read("src/main").map { case (p, src) => p -> lex(src) }
    val bench = read("perfbench/src").map { case (p, src) => p -> lex(src)._1 }
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    def words(src: String): Map[String, Int] =
      ident.findAllIn(src).toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size }
    val wordsOf = main.map { case (p, (kept, _)) => p -> words(kept) } ++
      bench.map { case (p, kept) => p -> words(kept) }
    val filesNaming = wordsOf.toSeq
      .flatMap { case (p, ws) => ws.keys.map(_ -> p) }
      .groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).toSet }
    val decl = ("(?m)^[ \\t]*((?:(?:@\\w+(?:\\([^)]*\\))?|final|case|sealed|abstract|" +
      "implicit|lazy|override|private(?:\\[\\w+\\])?|protected(?:\\[\\w+\\])?)\\s+)*)" +
      "(def|val|var|object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*)").r

    val unreached = main.toSeq.flatMap { case (path, (_, bare)) =>
      val depth = bare.scanLeft(0) {
        case (d, '{') => d + 1
        case (d, '}') => d - 1
        case (d, _) => d
      }
      val decls = decl.findAllMatchIn(bare).map(m =>
        (depth(m.start(2)), m.group(1), m.group(2), m.group(3))).toSeq
      val declCount = decls.groupBy(_._4).map { case (n, ds) => n -> ds.size }
      val holdsMain = decls.exists { case (_, _, k, n) => k == "def" && n == "main" }
      var owner = ("", false)
      decls.flatMap { case (d, mods, kind, name) =>
        val hidden = mods.contains("private") || mods.contains("protected")
        if (d == 0) owner = (name, hidden)
        val key = if (d == 0) name else s"${owner._1}.$name"
        val exempt = d > 1 || hidden || (d == 1 && owner._2) ||
          mods.contains("override") || name == "main" || name == "unapply" ||
          (d == 0 && kind == "object" && holdsMain)
        val reached = filesNaming.getOrElse(name, Set.empty).exists(_ != path) ||
          wordsOf(path).getOrElse(name, 0) > declCount(name)
        if (exempt || reached) None else Some(key)
      }
    }.distinct
    def allows(entry: String, key: String) =
      key == entry || key.startsWith(entry + ".")
    val offenders = unreached.filterNot(k => allowed.keys.exists(allows(_, k)))
    assert(offenders.isEmpty, "src/main members named only by specs (delete " +
      s"them, or allow one with its reason): ${offenders.sorted.mkString(", ")}")
    val stale = allowed.keys.filterNot(e => unreached.exists(allows(e, _)))
    assert(stale.isEmpty, s"allow-list entries now reached: ${stale.mkString(", ")}")
  }
}
