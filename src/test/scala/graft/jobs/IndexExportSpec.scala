package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestFixtures.withLocalLookupCap
import graft.ext.Retrieval

/** The point-lookup serving tier: the exported bucketed/sorted layout
  * must (a) serve results hash-identical to the in-memory index paths,
  * and (b) actually PRUNE — the lookup's scans must carry a partition
  * filter on the bucket/cell directory column and read strictly fewer
  * partition directories than exist, or the "point lookup" is a full
  * index scan wearing a trench coat.
  */
class IndexExportSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s
  }

  private def docsFixture = {
    import spark.implicits._
    // 40 docs over a 12-term vocabulary, several terms per doc,
    // repetition included (tf > 1 paths)
    (0 until 40).map { i =>
      val toks = Seq("spark", "table", "hash", "scan", "join", "sort",
        "row", "col", "disk", "ram", "net", "cpu")
      val text = (0 until 6).map(j => toks((i * 5 + j * 7) % toks.size))
        .mkString(" ") + (if (i % 3 == 0) " spark spark" else "")
      (i.toLong, text)
    }.toDF("doc_id", "text")
  }

  test("bm25 lookup over the export equals the in-memory indexed serving") {
    import spark.implicits._
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_export").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)

    val queries = Seq(7L -> Seq("spark", "hash"), 9L -> Seq("scan"))
    val viaMemory = Retrieval
      .bm25TopKIndexed(idx, queries.toDF("query_id", "terms"), 5)
      .collect().map(_.toSeq).toSet
    graft.ext.Dedup.clearSignatureCaches()

    // single-query point lookups, unioned — each pays only its own
    // buckets. The default route is the driver-local tier; assert BOTH
    // routes against the independent in-memory serving.
    val viaLookup = queries.map { case (qid, terms) =>
      IndexExport.bm25Lookup(spark, out, Seq(qid -> terms), 5)
        .collect().map(_.toSeq).toSet
    }.reduce(_ ++ _)
    assert(viaLookup === viaMemory)
    assert(viaLookup.nonEmpty)
    val viaDistributed = withLocalLookupCap(-1L)(queries.map {
      case (qid, terms) =>
        IndexExport.bm25Lookup(spark, out, Seq(qid -> terms), 5)
          .collect().map(_.toSeq).toSet
    }.reduce(_ ++ _))
    assert(viaDistributed === viaMemory)
  }

  test("single-query lookup plan equals the indexed serving scores") {
    import spark.implicits._
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_export_single").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    val terms = Seq("spark", "hash", "cpu")
    val viaMem = Retrieval
      .bm25TopKIndexed(idx, Seq((0L, terms)).toDF("query_id", "terms"), 7)
      .select($"doc_id", $"score").collect().map(_.toSeq).toSet
    graft.ext.Dedup.clearSignatureCaches()
    val viaSingle = IndexExport.bm25LookupSingle(spark, out, terms, 7)
      .select($"doc_id", $"score").collect().map(_.toSeq).toSet
    assert(viaSingle === viaMem)
    assert(viaSingle.nonEmpty)
    // the DISTRIBUTED fast plan (the default route above is the local
    // tier): the forced route's rows, then the plan's shape — exactly
    // ONE shuffle below the top-k, no cartesian product
    val viaForced = withLocalLookupCap(-1L)(
      IndexExport.bm25LookupSingle(spark, out, terms, 7))
      .select($"doc_id", $"score").collect().map(_.toSeq).toSet
    assert(viaForced === viaMem)
    IndexExport.withPinnedEpoch(out) { epoch =>
      val df = IndexExport.bm25SinglePlan(spark,
        LocalLookup.bm25Layout(epoch), terms, 7)
      df.collect()
      assert(df.collect().map(_.toSeq).toSet
        .map((s: Seq[Any]) => Seq(s(0), s(2))) === viaMem)
      val plan = df.queryExecution.executedPlan
      assert(graft.PlanShape.count(plan).cartesians === 0)
      assert(graft.PlanShape.shuffles(plan).size === 1)
    }
  }

  test("bm25 lookup prunes to the query's buckets and pushes the term filter") {
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_export_prune").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()

    // the distributed batch plan's scan shape (the lookup's default
    // route is the driver-local tier and plans no file scan)
    val scans = IndexExport.withPinnedEpoch(out) { epoch =>
      val df = IndexExport.bm25LookupPlan(spark,
        LocalLookup.bm25Layout(epoch), Seq(1L -> Seq("spark")), 5)
      df.collect()
      graft.PlanShape.fileScans(df.queryExecution.executedPlan)
    }
    assert(scans.nonEmpty)
    scans.foreach { f =>
      val s = f.toString
      assert(s.contains("PartitionFilters") && s.contains("bucket"),
        s"scan must carry a bucket partition filter:\n$s")
      // a one-term IN folds to EqualTo before pushdown
      assert(s.contains("PushedFilters") &&
        (s.contains("In(term") || s.contains("EqualTo(term")),
        s"term filter must reach the parquet reader:\n$s")
      // one term -> exactly one of the 16 bucket directories is read
      assert(f.relation.partitionSchema.fieldNames.contains("bucket"))
      assert(f.selectedPartitions.partitionCount === 1,
        s"one-term lookup must read 1 bucket dir, got " +
          s"${f.selectedPartitions.partitionCount}")
    }
  }

  private val abTerms = Seq("spark", "hash")

  /** Corpus A and corpus B indexed: B has different content under the
    * same terms (every doc gains a "spark hash" tail and ids shift), so
    * their answers to [[abTerms]] differ and a mixed-epoch read could
    * equal neither.
    */
  private def abIndexes = {
    import spark.implicits._
    val docsB = docsFixture.select(($"doc_id" + 1000L).as("doc_id"),
      concat($"text", lit(" spark hash")).as("text"))
    (Retrieval.bm25Index(docsFixture), Retrieval.bm25Index(docsB))
  }

  /** The forced-fallback answer to [[abTerms]] over the layout at `dir`. */
  private def fallbackAnswer(dir: String): Set[Seq[Any]] =
    withLocalLookupCap(-1L)(IndexExport.bm25LookupSingle(spark, dir, abTerms, 5)
      .collect().map(_.toSeq).toSet)

  /** The expected answer of `idx`, from its own independent layout. */
  private def refAnswer(idx: Retrieval.Bm25Index): Set[Seq[Any]] = {
    val ref = Files.createTempDirectory("bm25_epoch_ref").toString
    IndexExport.exportBm25(idx, ref, nBuckets = 16)
    fallbackAnswer(ref)
  }

  test("re-export during a lookup loop never yields a mixed-epoch or missing-file read") {
    val (idxA, idxB) = abIndexes
    // forced distributed: this test pins the fallback tier's epoch
    // protocol (the local tier's twin lives in LocalLookupSpec)
    val expectA = refAnswer(idxA)
    val expectB = refAnswer(idxB)
    assert(expectA !== expectB)

    // the measured loop: re-export B over the SAME root mid-loop — the
    // epoch pointer + the lookup's pin must make every read a
    // consistent full answer
    val out = Files.createTempDirectory("bm25_epoch_swap").toString
    IndexExport.exportBm25(idxA, out, nBuckets = 16)
    var seenB = false
    (0 until 8).foreach { i =>
      if (i == 4) IndexExport.exportBm25(idxB, out, nBuckets = 16)
      val r = fallbackAnswer(out)
      assert(r === expectA || r === expectB,
        s"mixed-epoch or partial read at lookup $i")
      if (r === expectB) seenB = true
    }
    assert(seenB, "the re-export never became visible through the pointer")
    // pruning kept the root bounded: at most KeepEpochs epoch dirs
    val epochs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch_"))
    assert(epochs.length <= IndexExport.KeepEpochs)
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("a forced-fallback lookup outlives three re-exports: its rows come from the epoch it pinned") {
    val (idxA, idxB) = abIndexes
    val expectA = refAnswer(idxA)
    val out = Files.createTempDirectory("bm25_fallback_pin").toString
    IndexExport.exportBm25(idxA, out, nBuckets = 16)
    val epochA = IndexExport.resolveEpoch(out)
    val df = withLocalLookupCap(-1L)(
      IndexExport.bm25LookupSingle(spark, out, abTerms, 5))
    // three exports prune epoch A (KeepEpochs = 2) before the collect:
    // a lookup whose plan still had to read A's files would fail here
    Seq(idxB, idxA, idxB).foreach(IndexExport.exportBm25(_, out, nBuckets = 16))
    assert(!Dfs.exists(new org.apache.hadoop.fs.Path(epochA)),
      "epoch A must be pruned before the collect")
    assert(df.collect().map(_.toSeq).toSet === expectA)
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("forced-fallback lookups racing back-to-back re-exports each return a full epoch-A or epoch-B answer") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (idxA, idxB) = abIndexes
    val expectA = refAnswer(idxA)
    val expectB = refAnswer(idxB)
    assert(expectA !== expectB)
    val out = Files.createTempDirectory("bm25_fallback_race").toString
    IndexExport.exportBm25(idxA, out, nBuckets = 16)
    @volatile var stop = false
    val loop = Future {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Seq[Any]]]
      while (!stop) seen += fallbackAnswer(out)
      seen.toSeq
    }
    // six exports back to back, alternating B and A, under the loop
    try (0 until 6).foreach(i =>
      IndexExport.exportBm25(if (i % 2 == 0) idxB else idxA, out, nBuckets = 16))
    finally stop = true
    val seen = Await.result(loop, 120.seconds)
    assert(seen.nonEmpty)
    seen.zipWithIndex.foreach { case (r, i) =>
      assert(r === expectA || r === expectB, s"mixed-epoch read at lookup $i")
    }
    assert(fallbackAnswer(out) === expectA, "the last export published A")
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("a forced-fallback lookup with no matched postings returns empty, not a read error") {
    val idx = Retrieval.bm25Index(docsFixture)
    val out = Files.createTempDirectory("bm25_fallback_nomatch").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    graft.ext.Dedup.clearSignatureCaches()
    val written = new java.io.File(new java.net.URI(IndexExport.resolveEpoch(out)))
      .toPath.resolve("postings").toFile.list()
      .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toLong).toSet
    val candidates = Iterator.from(0).map(i => s"absent_$i")
    // a term whose bucket directory the export never wrote, and one
    // whose bucket exists but holds no such term
    val noDir = candidates.find(t => !written(IndexExport.termBucket(t, 16))).get
    val noRow = candidates.find(t => written(IndexExport.termBucket(t, 16))).get
    withLocalLookupCap(-1L) {
      Seq(Seq(noDir), Seq(noRow), Seq(noDir, noRow)).foreach { ts =>
        assert(IndexExport.bm25LookupSingle(spark, out, ts, 5).collect().isEmpty,
          s"single lookup of $ts")
        assert(IndexExport.bm25Lookup(spark, out, Seq(1L -> ts), 5)
          .collect().isEmpty, s"batch lookup of $ts")
      }
    }
  }

  test("a pinned epoch survives any number of re-exports, then prunes on release") {
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_epoch_pin").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    val pinnedDir = IndexExport.withPinnedEpoch(out) { dir =>
      // the artificially slow lookup: THREE full export+prune cycles
      // land while the epoch is held — without the pin, KeepEpochs=2
      // deletes `dir` on the second one (the round-12 retention hole)
      (0 until 3).foreach(_ => IndexExport.exportBm25(idx, out, nBuckets = 16))
      assert(Dfs.isDirectory(new org.apache.hadoop.fs.Path(dir)),
        "pinned epoch was pruned")
      // and its FILES are intact: the in-flight reader finishes its
      // lookup against exactly this epoch
      val viaLocal = LocalLookup.bm25Single(LocalLookup.bm25Layout(dir),
        Seq("spark", "hash"), 5, Long.MaxValue)
      assert(viaLocal.exists(_.nonEmpty))
      dir
    }
    // pin released: the next export's prune collects the old epoch
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    assert(!Dfs.exists(new org.apache.hadoop.fs.Path(pinnedDir)),
      "released out-of-window epoch must be pruned by the next export")
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("a lookup against a missing layout fails fast, never spins on the pin") {
    val dir = new java.io.File(
      Files.createTempDirectory("bm25_missing").toFile, "never_exported")
    val e = intercept[IllegalArgumentException] {
      IndexExport.bm25LookupSingle(spark, dir.toString, Seq("spark"), 5)
    }
    assert(e.getMessage.contains("no meta file"),
      s"missing layout must surface the reader's error, got: ${e.getMessage}")
  }

  test("prune-vs-pin race: a reader pinning inside the prune window re-resolves, never a vanishing epoch") {
    import org.apache.hadoop.fs.Path
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = java.nio.file.Files.createTempDirectory("bm25_condemn").toString
    IndexExport.exportBm25(idx, out, nBuckets = 16)
    val epoch1 = IndexExport.resolveEpoch(out)

    // force the exact ADVICE interleaving: the reader RESOLVES the
    // epoch, then the pruner passes its pin check (no pin yet) and
    // commits to deleting it, and only THEN does the reader pin — the
    // condemned-set handshake must push the reader onto a live epoch
    val resolved = new java.util.concurrent.CountDownLatch(1)
    val mayPin = new java.util.concurrent.CountDownLatch(1)
    @volatile var servedDir: String = null
    @volatile var servedExisted = false
    IndexExport.pinPauseHook = dir => if (dir == epoch1) {
      IndexExport.pinPauseHook = _ => ()
      resolved.countDown()
      mayPin.await()
    }
    try {
      val reader = new Thread(() => {
        IndexExport.withPinnedEpoch(out) { dir =>
          servedDir = dir
          servedExisted = Dfs.exists(new Path(dir))
        }
        ()
      })
      reader.start()
      resolved.await()
      IndexExport.prunePauseHook = dir => if (dir == epoch1) {
        IndexExport.prunePauseHook = _ => ()
        mayPin.countDown() // the reader pins NOW, mid-prune
        Thread.sleep(100)  // let the pin land inside the delete window
      }
      // two more exports: the second one's prune condemns + deletes
      // epoch_1 (KeepEpochs = 2), with the reader racing it
      IndexExport.exportBm25(idx, out, nBuckets = 16)
      IndexExport.exportBm25(idx, out, nBuckets = 16)
      reader.join(30000)
      assert(!reader.isAlive, "reader never finished — pin/prune deadlock")
      assert(servedDir != null && servedDir != epoch1,
        "reader must re-resolve off the condemned epoch")
      assert(servedExisted, "reader served from a deleted directory")
      assert(!Dfs.exists(new Path(epoch1)), "condemned epoch must be gone")
    } finally {
      IndexExport.pinPauseHook = _ => ()
      IndexExport.prunePauseHook = _ => ()
    }
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("epoch paths are canonical: a relative root spelling pins the same key the pruner consults") {
    import org.apache.hadoop.fs.Path
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val abs = java.nio.file.Files.createTempDirectory("bm25_canon").toString
    IndexExport.exportBm25(idx, abs, nBuckets = 16)
    // a dot-segmented spelling of the same root must resolve to the
    // SAME canonical epoch string (the pin/prune keyspace)
    val parent = new java.io.File(abs).getParentFile.getName
    val dotted = new java.io.File(abs).getParent +
      java.io.File.separator + "." + java.io.File.separator +
      new java.io.File(abs).getName
    assert(IndexExport.resolveEpoch(dotted) === IndexExport.resolveEpoch(abs),
      s"dotted spelling split the epoch keyspace (parent $parent)")
    graft.ext.Dedup.clearSignatureCaches()
  }

  test("a poisoned write aborts the export fail-fast: error propagated, no pointer move, siblings cancelled") {
    import spark.implicits._
    val docs = docsFixture
    val idx = Retrieval.bm25Index(docs)
    val out = Files.createTempDirectory("bm25_poison").toString
    // a healthy first export, so the pointer exists and MUST NOT move
    IndexExport.exportBm25(idx, out, nBuckets = 8)
    graft.ext.Dedup.clearSignatureCaches()
    val pointerBefore = IndexExport.resolveEpoch(out)

    // poison the POSTINGS side (throws on evaluation) and make the df
    // side SLOW (sleeps per row): without fail-fast cancellation the
    // doomed df job runs its full ~40 s to completion after the
    // postings failure; with it the export returns in a few seconds
    val poison = udf((id: Long) => {
      if (id >= 0L) throw new RuntimeException("poisoned postings write")
      id
    })
    val slow = udf((id: Long) => { Thread.sleep(1000L); id })
    val poisonedIdx = Retrieval.Bm25Index(
      idx.postings.withColumn("doc_id", poison($"doc_id")),
      idx.dfTable.withColumn("df", slow($"df")), idx.n, idx.sumDl)
    val t0 = System.nanoTime()
    val e = intercept[Throwable] {
      IndexExport.exportBm25(poisonedIdx, out, nBuckets = 8)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // the ROOT failure surfaces (not a sibling's "job cancelled")
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(causes(e).exists(_.contains("poisoned postings write")),
      s"expected the poison to propagate, got: $e")
    // the pointer never moved — readers keep serving the healthy epoch
    assert(IndexExport.resolveEpoch(out) === pointerBefore)
    // the slow sibling was CANCELLED, not run to completion: the df
    // table has ~12 rows x 1 s/row through a 4-core pool; anything
    // close to that budget means the doomed job survived the failure
    assert(sec < 20.0,
      f"export took $sec%.1f s — the slow df write ran to completion " +
        "instead of being cancelled")
    graft.ext.Dedup.clearSignatureCaches()
  }
}
