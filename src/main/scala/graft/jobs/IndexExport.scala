package graft.jobs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graft.{GraftColumns, GraftExec}

import graft.ext.Retrieval
import graft.ext.Retrieval.Bm25Index

/** The point-lookup serving tier: export the BM25 index
  * ([[Retrieval.bm25Index]] postings/df) to a sorted,
  * hash-bucketed, partition-pruned parquet layout, and serve a SINGLE
  * query by reading only the buckets it touches — no streaming
  * micro-batch floor, no full-index scan.
  *
  * Layout contract (what makes the lookup O(query), not O(index)):
  *  - postings and df are directory-partitioned by
  *    `bucket = pmod(xxhash64(term), nBuckets)` and SORTED by (term,
  *    doc_id) within files, so a lookup reads only its `|terms|` bucket
  *    directories, and the pushed `term IN (…)` filter skips row groups
  *    via the min/max statistics the sort makes tight;
  *  - the lookup computes bucket ids DRIVER-side via
  *    [[GraftColumns.xxhash64String]] (bit-identical to the export's
  *    `xxhash64` column — same expression evaluated eagerly), so
  *    pruning costs zero Spark jobs;
  *  - corpus stats (n, sum_dl, n_buckets) ride a one-row meta file.
  *
  * Epoch versioning (what makes a RE-export safe under live traffic):
  * every export writes a fresh immutable `epoch_<n>/` directory under
  * the layout root and then atomically swaps the `_LATEST` pointer file
  * onto it — the UpsertSink `_LATEST` discipline. The previous epoch is
  * retained until the NEXT export prunes it ([[KeepEpochs]]), and an
  * epoch is never pruned while an in-JVM reader pins it.
  *
  * One pinned read per lookup: [[bm25LookupSingle]] and [[bm25Lookup]]
  * each take ONE [[withPinnedEpoch]], load that epoch's
  * [[LocalLookup.bm25Layout]], decide the tier against the session's
  * [[localLookupCap]] and compute every row inside the pin — the
  * driver-local tier, or the distributed plan collected there (at most
  * k·|queries| rows). Both tiers return a local frame, so no lazy plan
  * outlives its pin, and any number of re-exports during or after a
  * lookup cannot make it read a pruned file. There is no Spark reader
  * cache: the fallback scans exactly the bucket files the layout lists
  * (the local tier's own listing), with `n`, `sum_dl` and `n_buckets`
  * from the layout's meta row.
  *
  * Parity contract: [[bm25LookupPlan]] reconstructs a [[Bm25Index]]
  * over the pruned scans and serves through
  * [[Retrieval.bm25TopKIndexed]] itself — the scored rows are the same
  * rows the in-memory index serves, so results are hash-identical by
  * construction (pinned by IndexExportSpec and the q120 gate against
  * the shared q105 oracle); the local tier equals the plans by shared
  * arithmetic (LocalLookupSpec).
  *
  * At 100 TB: the export is the KV tier SCALE.md promised — postings
  * for a term live in one directory, sorted, so a key-value store (or
  * this parquet layout behind a long-lived local reader) serves
  * point lookups at file-seek latency while the SAME bytes remain a
  * scannable table for the batch path.
  */
object IndexExport {

  /** Scale-adaptive bucket count for [[exportBm25]]'s default (guide
    * §6: size output partitions from the data, not a constant): one
    * bucket per [[BucketTokenTarget]] tokens of corpus (`sum_dl` is an
    * exact driver long the index already carries — zero extra jobs),
    * clamped to [4, [[MaxAdaptiveBuckets]]]. A fixed 64 wrote 64
    * near-empty directories per table at test scale (128 write tasks +
    * commit rounds for a few hundred KB) and would under-split a
    * genuinely large corpus; the token-proportional rule keeps every
    * bucket's postings bounded (~tens of MB at the target) at any
    * scale. Lookups read the bucket count from the export's meta row,
    * so the rule can evolve without a layout version bump; explicit
    * `nBuckets` callers are unaffected.
    */
  val BucketTokenTarget = 2000000L
  val MaxAdaptiveBuckets = 4096

  def adaptiveBuckets(sumDl: Long): Int =
    math.max(4L, math.min(MaxAdaptiveBuckets.toLong,
      (sumDl + BucketTokenTarget - 1) / BucketTokenTarget)).toInt

  /** Epochs retained after an export: the live one plus its
    * predecessor, so one re-export never deletes files out from under
    * a reader opened moments before the swap. Epochs OLDER than the
    * window survive while an in-JVM reader holds them pinned
    * ([[withPinnedEpoch]] — every lookup pins for its whole duration,
    * so N re-exports inside one in-flight lookup can no longer delete
    * the epoch it is reading). The next export re-attempts the prune,
    * so a pinned epoch is deleted as soon as its pins drop. Readers in
    * other processes get no pin and no grace: every reader the system
    * has runs in the exporting JVM.
    */
  val KeepEpochs = 2

  // per-epoch in-flight reader counts; entries are swept once the
  // epoch directory is gone and the count is zero. Keys are the
  // CANONICAL ([[Dfs.qualified]]) epoch paths — resolveEpoch and
  // pruneEpochs both key through the same qualifier, so a relative or
  // symlinked caller spelling can never pin a key the pruner never
  // consults.
  private val epochPins =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()

  // epochs a prune has COMMITTED to deleting: the pruner publishes
  // intent here BEFORE its pin check, and acquirePin refuses a
  // condemned epoch (re-resolving instead), which closes the
  // check-then-act race between "pin count read, then delete" and
  // "pin taken, then exists-check" — no interleaving can leave a
  // reader holding a vanishing epoch (IndexExportSpec forces the
  // window through [[prunePauseHook]]).
  private val condemned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Test hook: runs between a prune's pin check and its delete. */
  private[jobs] var prunePauseHook: String => Unit = _ => ()

  /** Test hook: runs between a reader's resolve and its first pin. */
  private[jobs] var pinPauseHook: String => Unit = _ => ()

  @annotation.tailrec
  private def acquirePin(dir: String): java.util.concurrent.atomic.AtomicInteger = {
    val c = epochPins.computeIfAbsent(dir,
      _ => new java.util.concurrent.atomic.AtomicInteger)
    c.incrementAndGet()
    // the sweep may have removed a zero-count entry between our
    // computeIfAbsent and increment — a pin on an unmapped counter is
    // invisible to pruneEpochs, so re-check and retry
    if (epochPins.get(dir) eq c) c
    else { c.decrementAndGet(); acquirePin(dir) }
  }

  /** Run `f` against the CURRENT epoch directory with the epoch PINNED:
    * [[pruneEpochs]] will not delete a pinned epoch, so a reader that
    * straddles any number of re-exports finishes against intact files.
    * Both point-lookup tiers run inside one pin per lookup. If the
    * resolved epoch loses the race with a concurrent prune before the
    * pin lands (microseconds), the pin is retried against the fresh
    * pointer.
    */
  def withPinnedEpoch[T](outDir: String)(f: String => T): T = {
    val root = Dfs.qualified(outDir).toString
    var dir = resolveEpoch(outDir)
    pinPauseHook(dir)
    var c = acquirePin(dir)
    // re-resolve while the pinned epoch is CONDEMNED (a prune committed
    // to deleting it before our pin landed) or already gone. A root
    // WITHOUT a pointer resolves to itself — never retried, so a
    // missing or flat layout falls through and fails in the reader
    // with the layout error, not an infinite loop here. The pointer
    // always names an epoch inside the keep window, so a re-resolve
    // lands on a live epoch as soon as the racing prune's swap settles.
    while (dir != root &&
        (condemned.contains(dir) || !Dfs.exists(new Path(dir)))) {
      c.decrementAndGet()
      Thread.onSpinWait()
      dir = resolveEpoch(outDir)
      c = acquirePin(dir)
    }
    try f(dir) finally { c.decrementAndGet(); () }
  }

  def termBucketCol(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong))

  def termBucket(term: String, nBuckets: Int): Long = {
    val h = GraftColumns.xxhash64String(term)
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  // ---- epoch pointer protocol -------------------------------------------

  /** Resolve a layout root to its CURRENT epoch directory: the
    * `_LATEST` pointer names the epoch subdirectory the last export
    * swapped in. A root without a pointer resolves to itself, so a
    * hand-built (or pre-versioning) flat layout still reads.
    */
  def resolveEpoch(outDir: String): String = {
    val root = Dfs.qualified(outDir)
    val p = new Path(root, "_LATEST")
    if (!Dfs.isFile(p)) root.toString
    else new Path(root, Dfs.readString(p).trim).toString
  }

  private def epochNum(name: String): Option[Long] =
    if (name.startsWith("epoch_")) name.stripPrefix("epoch_").toLongOption
    else None

  private def nextEpochDir(outDir: String): Path = {
    val root = Dfs.qualified(outDir)
    Dfs.mkdirs(root)
    val existing = Dfs.list(root)
      .flatMap(f => if (f.isDirectory) epochNum(f.getPath.getName) else None)
    new Path(root, s"epoch_${(if (existing.isEmpty) 0L else existing.max) + 1L}")
  }

  /** Atomically point `_LATEST` at `epochName`: write a temp sibling,
    * then a same-directory atomic rename over the pointer. A reader
    * racing the swap sees the old pointer or the new one, never a
    * partial write.
    */
  private def swapPointer(outDir: String, epochName: String): Unit =
    Dfs.writeStringAtomic(
      new Path(Dfs.qualified(outDir), "_LATEST"), epochName)

  /** Drop epochs older than the newest [[KeepEpochs]] — except those
    * pinned by an in-flight reader — and invalidate the layout cache
    * entries that pointed at them. Pinned epochs are simply skipped;
    * the NEXT export's prune collects them once unpinned.
    */
  private def pruneEpochs(outDir: String): Unit = {
    val root = Dfs.qualified(outDir)
    val epochs = Dfs.list(root)
      .filter(f => f.isDirectory && epochNum(f.getPath.getName).isDefined)
      .sortBy(f => epochNum(f.getPath.getName).get)
    epochs.dropRight(KeepEpochs).foreach { st =>
      val path = st.getPath.toString
      // publish intent FIRST: a reader pinning after this point sees
      // the condemnation and re-resolves instead of trusting its pin
      condemned.add(path)
      try {
        if (!Option(epochPins.get(path)).exists(_.get() > 0)) {
          prunePauseHook(path)
          LocalLookup.invalidateEpoch(path)
          Dfs.delete(st.getPath)
          ()
        }
      } finally { condemned.remove(path); () }
    }
    // sweep pin entries for epochs that no longer exist (zero-count
    // only; acquirePin re-checks mapping, so this cannot hide a pin)
    epochPins.entrySet().removeIf(e =>
      e.getValue.get() == 0 && !Dfs.exists(new Path(e.getKey)))
    ()
  }

  /** Write the bm25 index as the bucketed/sorted serving layout, into a
    * fresh epoch: `<outDir>/epoch_<n>/postings/bucket=<b>/` (doc_id,
    * dl, term, tf), `…/df/bucket=<b>/` (term, df), `…/meta` one row —
    * then swap `_LATEST` and prune epochs beyond [[KeepEpochs]].
    * repartition-by-bucket + sortWithinPartitions(bucket, …) means the
    * file writer sees rows already clustered by the partition column
    * and streams them out in term order — tight row-group stats, no
    * writer-side re-sort.
    */
  def exportBm25(idx: Bm25Index, outDir: String,
      nBuckets: Int = 0): Unit = {
    // 0 (the default) = derive from the corpus' exact token count
    val buckets =
      if (nBuckets == 0) adaptiveBuckets(idx.sumDl) else nBuckets
    require(buckets > 0, s"nBuckets must be positive, got $buckets")
    val epoch = nextEpochDir(outDir)
    // the three artifact writes are independent (disjoint outputs from
    // already-materialized cached inputs), so they run as overlapped
    // jobs (guide §2.6): the small df/meta writes back-fill the tail of
    // the postings write instead of queueing behind it. The epoch only
    // publishes (swapPointer) after ALL THREE complete — a failed write
    // fails the export before the pointer moves. FAIL-FAST discipline
    // (round-16 review): the writes run on the dedicated
    // [[graft.ext.DriverPool]] (caller's Spark local properties
    // captured per task — a reused global-pool thread could carry a
    // stale job group and escape cancellation) under ONE export-scoped
    // job group in a named scheduler pool; the FIRST failure cancels
    // the group, so sibling jobs stop instead of running a doomed
    // epoch to completion, and every outcome is awaited before the
    // original failure is rethrown — no write outlives the thrown
    // export (IndexExportSpec's poisoned-write case pins all three
    // properties: error propagated, no pointer move, siblings
    // cancelled).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    val spark = idx.postings.sparkSession
    val sc = spark.sparkContext
    val group = s"graft-bm25-export-${epoch.getName}-" +
      java.util.UUID.randomUUID().toString.take(8)
    def overlapped(label: String)(body: => Unit): Future[Try[Unit]] =
      graft.ext.DriverPool.submit(spark) {
        sc.setJobGroup(group, s"graft bm25 export: $label",
          interruptOnCancel = true)
        sc.setLocalProperty("spark.scheduler.pool", "graft-export")
        val r = Try(body)
        if (r.isFailure) sc.cancelJobGroup(group)
        r
      }
    val writes = Seq(
      overlapped("postings") {
        idx.postings
          .withColumn("bucket", termBucketCol(col("term"), buckets))
          .repartition(buckets, col("bucket"))
          .sortWithinPartitions(col("bucket"), col("term"), col("doc_id"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$epoch/postings")
      },
      overlapped("df") {
        idx.dfTable
          .withColumn("bucket", termBucketCol(col("term"), buckets))
          .repartition(buckets, col("bucket"))
          .sortWithinPartitions(col("bucket"), col("term"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$epoch/df")
      },
      overlapped("meta") {
        idx.stats.withColumn("n_buckets", lit(buckets))
          .write.mode("overwrite").parquet(s"$epoch/meta")
      })
    // collect ALL outcomes (no write outlives the throw), then rethrow
    // the ROOT failure — a sibling cancelled BY the fail-fast reads as
    // "cancelled"; surfacing it would mask the write that actually
    // poisoned the export
    val failures = writes.map(Await.result(_, Duration.Inf))
      .collect { case scala.util.Failure(e) => e }
    failures.find(e => !Option(e.getMessage).exists(_.contains("cancelled")))
      .orElse(failures.headOption).foreach(e => throw e)
    swapPointer(outDir, epoch.getName)
    pruneEpochs(outDir)
  }

  // explicit layout schemas: no footer inference on the serving path
  private val PostingsSchema = "doc_id BIGINT, dl BIGINT, term STRING, " +
    "tf BIGINT, bucket BIGINT"
  private val DfSchema = "term STRING, df BIGINT, bucket BIGINT"

  /** Max matched postings a lookup may serve through the driver-local
    * tier ([[LocalLookup]]): the summed df of the query's terms, known
    * from the resident df maps before any postings page is read. Under
    * the cap a point lookup is driver arithmetic over its own pages —
    * zero Spark jobs, the latency the serving tier exists for; over it
    * (a flood term whose postings are corpus-proportional) the lookup
    * runs the distributed pruned-scan plan, identical rows by the
    * LocalLookup parity contract. The default of the session conf
    * [[LocalLookupCapKey]] (−1 forces the distributed route).
    */
  val LocalLookupCap = 100000L
  val LocalLookupCapKey = "spark.graft.index.localLookupCap"
  private def localLookupCap(spark: SparkSession): Long =
    graft.Sessions.cap(spark, LocalLookupCapKey, LocalLookupCap)

  private val SingleSchema = StructType.fromDDL(
    "doc_id BIGINT, n_terms BIGINT NOT NULL, score DOUBLE NOT NULL")
  private val BatchSchema = StructType.fromDDL("query_id BIGINT NOT NULL, " +
    "rank BIGINT NOT NULL, doc_id BIGINT, score DOUBLE NOT NULL")

  private def localFrame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Serve queries `(query_id, terms)` through the exported layout,
    * inside one pin: under [[localLookupCap]] the rows come from the
    * no-Spark local tier ([[LocalLookup.bm25Batch]] — driver page reads
    * + driver arithmetic, zero jobs); over the cap, or when a matched
    * posting carries a NULL doc_id, [[bm25LookupPlan]] runs and is
    * collected once, releasing its broadcasts on return
    * (`GraftExec.collectOnce`). Identical rows either way (LocalLookupSpec parity + the
    * shared q105-oracle gate), returned as a local frame.
    */
  def bm25Lookup(spark: SparkSession, outDir: String,
      queries: Seq[(Long, Seq[String])], k: Int): DataFrame =
    withPinnedEpoch(outDir) { epoch =>
      val l = LocalLookup.bm25Layout(epoch)
      val rows = LocalLookup.bm25Batch(l, queries, k, localLookupCap(spark))
        .map(_.map { case (q, r, d, sc) => Row(q, r, d, sc) })
        .getOrElse(
          GraftExec.collectOnce(bm25LookupPlan(spark, l, queries, k)).toSeq)
      localFrame(spark, rows, BatchSchema)
    }

  /** The SINGLE-query point lookup, inside one pin: under
    * [[localLookupCap]] the rows come from [[LocalLookup.bm25Single]]
    * (zero Spark jobs; the same rows by the bit-parity contract
    * [[Retrieval.scoreSingleLocal]] pins); over it [[bm25SinglePlan]]
    * runs and is collected once, like [[bm25Lookup]]'s plan. Output (doc_id, n_terms, score) — the
    * [[Retrieval.bm25TopK]] shape, scores bit-identical to every other
    * bm25 path (q121 gate) — as a local frame.
    */
  def bm25LookupSingle(spark: SparkSession, outDir: String,
      terms: Seq[String], k: Int): DataFrame =
    withPinnedEpoch(outDir) { epoch =>
      val l = LocalLookup.bm25Layout(epoch)
      val rows = LocalLookup.bm25Single(l, terms, k, localLookupCap(spark))
        .map(_.map { case (d, n, sc) => Row(d, n, sc) })
        .getOrElse(
          GraftExec.collectOnce(bm25SinglePlan(spark, l, terms, k)).toSeq)
      localFrame(spark, rows, SingleSchema)
    }

  /** `table` of one epoch, read from the query's bucket files only (the
    * layout's listing, no directory scan) with the bucket and term
    * filters pushed into the sorted scan. With no file to read (a
    * bucket the export never wrote) the explicit schema reads empty.
    */
  private def pruned(spark: SparkSession, l: LocalLookup.Bm25Layout,
      table: String, schema: String, terms: Seq[String],
      cols: Seq[String]): DataFrame = {
    val buckets = terms.map(termBucket(_, l.nBuckets)).distinct
    val files = LocalLookup.epochFiles(l, table, buckets)
    spark.read.schema(schema).option("basePath", s"${l.dir}/$table")
      .parquet(files.map(_.toString): _*)
      .filter(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
      .select(cols.map(col): _*)
  }

  /** The distributed batch plan over one pinned epoch: the pruned scans
    * rebuilt into a [[Bm25Index]] with the layout's exact stats, served
    * by the SAME [[Retrieval.bm25TopKIndexed]] plan as the in-memory
    * index. Run it only inside the pin that loaded `l`.
    */
  private[jobs] def bm25LookupPlan(spark: SparkSession,
      l: LocalLookup.Bm25Layout, queries: Seq[(Long, Seq[String])],
      k: Int): DataFrame = {
    import spark.implicits._
    val ts = queries.flatMap(_._2).filter(_ != null).distinct
    val idx = Bm25Index(
      pruned(spark, l, "postings", PostingsSchema, ts,
        Seq("doc_id", "dl", "term", "tf")),
      pruned(spark, l, "df", DfSchema, ts, Seq("term", "df")), l.n, l.sumDl)
    Retrieval.bm25TopKIndexed(idx, queries.toDF("query_id", "terms"), k)
  }

  /** The distributed single-query plan over one pinned epoch: terms as
    * driver constants, the pruned scans, and
    * [[Retrieval.bm25ScoreSingle]]'s one-shuffle plan with the layout's
    * stats. Run it only inside the pin that loaded `l`.
    */
  private[jobs] def bm25SinglePlan(spark: SparkSession,
      l: LocalLookup.Bm25Layout, terms: Seq[String], k: Int): DataFrame = {
    val ts = terms.filter(_ != null).distinct
    Retrieval.bm25ScoreSingle(
      pruned(spark, l, "postings", PostingsSchema, ts,
        Seq("doc_id", "dl", "term", "tf")),
      pruned(spark, l, "df", DfSchema, ts, Seq("term", "df")),
      l.n, l.sumDl, k)
  }
}
