package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.ext.{Dedup, DriverTier, Packing, Similarity, TextStats}
import graft.jobs.Dfs
import graft.queries.Curation

/** STREAMING curation ingest — the q122 contract run continuously:
  * delta documents arrive on a stream, each micro-batch flows through
  * the stage semantics of [[Curation.ingestDelta]] against the CURRENT
  * store (via [[Curation.acceptDelta]], the one delta chain every
  * ingest surface runs), and accepted docs append to the
  * store directory. The store is the ONLY durable artifact this job
  * writes:
  *
  *  - **idempotence is the dedup itself**: an at-least-once redelivery
  *    (restart replaying a batch whose append already committed)
  *    re-ingests docs that are now IN the store — stage 3 drops every
  *    one of them as an exact duplicate, so nothing appends twice. No
  *    transaction log, no sink-side dedup key: the operator's own
  *    semantics make the pipeline exactly-once-equivalent
  *    (CurationStreamSpec executes the crash window).
  *  - **the manifest is a VIEW, not a second write**: pack offsets
  *    depend on ARRIVAL order (batch, then doc_id), so the store
  *    carries `ingest_batch` and [[manifestView]] re-derives the full
  *    manifest deterministically — through the same distributed prefix
  *    scan and the same [[Packing.withSeqFields]] expressions as the
  *    batch paths, so a batch's view rows equal the manifest
  *    [[Curation.ingestDelta]] returned when it ran. One durable
  *    artifact means no cross-file crash-consistency window at all.
  *
  * Store layout — partitioned by `batch_bucket = floor(ingest_batch /
  * `[[BatchesPerBucket]]`)` with `ingest_batch` kept as a data column,
  * which is what makes the maintenance ops O(touched), not O(store):
  *
  *  - [[compactStore]] rewrites only the partitions whose data-file
  *    count exceeds the target (recent hot buckets; sealed old buckets
  *    are never reopened);
  *  - [[redactStore]] rewrites only the partitions that HOLD the
  *    tombstoned ids;
  *  - every rewrite goes through a staged sibling write + journaled
  *    atomic swap ([[recoverStore]]): the replacement partition is
  *    fully written under `_staging/` before a marker commits the
  *    intent, the old partition moves to `_trash/` only then, and a
  *    crash anywhere in the window rolls FORWARD on recovery — the
  *    store is never the target of an in-place overwrite, and no
  *    moment exists at which the only copy of a partition is a
  *    half-written directory.
  *
  * At 100 TB: the store directory is the persisted curated table
  * (production would give it a table format whose compaction this
  * layout mirrors); `emb`, `holdout` and `trained` are the maintained
  * side artifacts the batch rounds already own (the embedding table,
  * the frozen eval split, the production ANN index). Per-batch work is
  * delta-sized by the q122 scale argument — the stream never re-pairs
  * the store with itself — and maintenance work is proportional to the
  * partitions touched, never to the store.
  */
object CurationStream {

  val StoreSchema = "doc_id BIGINT, lang STRING, source STRING, " +
    "n_chars BIGINT, text STRING, n_tok BIGINT, ingest_batch BIGINT"
  private val StoreReadSchema = StoreSchema + ", batch_bucket BIGINT"

  /** Ingest batches per partition directory. Small enough that a
    * compaction or redaction touches a bounded slice of the store;
    * large enough that the directory count stays ~batches/16.
    */
  val BatchesPerBucket = 16L

  private def batchBucket =
    floor(col("ingest_batch") / lit(BatchesPerBucket.toDouble)).cast("long")

  /** Token count materialized AT APPEND TIME. The manifest view reads
    * this column, never the text — which is what makes [[redactStore]]
    * possible: a compliance deletion nulls the content while the
    * frozen token count keeps every already-trained offset valid.
    */
  private def tokCount = coalesce(size(TextStats.tokens(col("text"))),
    lit(0)).cast("long").as("n_tok")

  /** The store as a frame — explicit schema (partition column
    * included, then dropped), so a fresh (empty) store directory reads
    * as an empty corpus instead of failing inference.
    */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.schema(StoreReadSchema).parquet(storeDir)
      .drop("batch_bucket")

  /** Append store rows (the [[StoreSchema]] shape, `ingest_batch`
    * populated) into their batch-bucket partitions. The ONE writer
    * every ingest surface shares, so the partition layout can never
    * drift between the seed, the stream and a test harness.
    *
    * `touchedBuckets` is a TRUSTED hint: it must name every bucket the
    * rows land in (the stream derives it from its literal batch id; an
    * UNDER-stated hint would leave a stale doc_id sidecar claiming the
    * pre-append id set, and redaction discovery could then skip a
    * bucket holding a new victim). Callers that cannot prove the set
    * pass None and pay one distinct job.
    *
    * `newIds` (valid only with a SINGLE-bucket hint): the appended
    * rows' doc_ids, already on the driver — the bucket's sidecar is
    * then UPDATED in place instead of invalidated, so redaction
    * discovery stays bounded on hot buckets no maintenance pass has
    * sealed yet ([[mergeIdStats]]). The set is trusted like the bucket
    * hint: an under-stated list would leave a sidecar missing a
    * victim's id.
    */
  def appendStore(rows: DataFrame, storeDir: String,
      mode: String = "append", touchedBuckets: Option[Seq[Long]] = None,
      newIds: Option[Array[Long]] = None): Unit = {
    // epoch fence BEFORE the sidecar merge and the data write: a
    // writer whose lease was reclaimed mid-batch is rejected at the
    // write itself, not at its next heartbeat
    verifyWriteFence(storeDir)
    val bucketed = rows.withColumn("batch_bucket", batchBucket)
    // sidecar discipline BEFORE the data write: merge when the caller
    // proved (bucket, ids) — the stream's case — otherwise invalidate
    // (the scan fallback is always correct); an overwrite drops them all
    (mode, touchedBuckets, newIds) match {
      case ("overwrite", _, _) => invalidateAllIdStats(storeDir)
      case (_, Some(Seq(b)), Some(ids)) => mergeIdStats(storeDir, b, ids)
      case (_, tb, _) => invalidateIdStats(storeDir, tb.getOrElse(
        bucketed.select(col("batch_bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq))
    }
    bucketed.write.mode(mode).partitionBy("batch_bucket").parquet(storeDir)
  }

  /** Seed the store from an initial batch-curated corpus (e.g. the
    * q117 stage-6 survivors), as ingest batch −1. Builds the seed
    * buckets' doc_id sidecars immediately (one per-bucket scan, a
    * one-time seeding cost) so redaction discovery is bounded from the
    * first compliance call — not from the first maintenance pass.
    */
  def initStore(curated: DataFrame, storeDir: String): Unit = {
    appendStore(curated
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"), tokCount, lit(-1L).as("ingest_batch")),
      storeDir, mode = "overwrite")
    buildIdStats(curated.sparkSession, storeDir)
  }

  /** The pack manifest derived from the store: the global token stream
    * in (ingest_batch, doc_id) order — exactly the order the appends
    * happened — through the shared prefix scan and sequence-field
    * expressions. Output adds `ingest_batch` to the q122 manifest
    * shape. Attribution joins back on (doc_id, ingest_batch) — the
    * full identity of a store row — so even a store whose appends
    * bypassed [[Curation.ingestDelta]]'s id guard cannot fan the
    * manifest out.
    */
  def manifestView(store: DataFrame,
      seqLen: Long = Curation.SeqLen): DataFrame = {
    val counts = store.select(lit(0L).as("__k"), col("ingest_batch"),
      col("doc_id"), col("n_tok"))
    val cum = graft.operators.PrefixSum
      .cumSumByKey(counts, "__k", Seq("ingest_batch", "doc_id"), "n_tok")
    Packing.withSeqFields(cum.filter(col("n_tok") > 0)
        .select(col("doc_id"), col("n_tok"),
          (col("cum") - col("n_tok")).as("start_tok"), col("ingest_batch")),
        seqLen, keep = Seq("ingest_batch"))
      .join(store.select(col("doc_id"), col("lang"), col("source"),
        col("ingest_batch")), Seq("doc_id", "ingest_batch"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        col("start_tok"), col("start_seq"), col("start_off"),
        col("end_seq"), col("n_seqs"), col("ingest_batch"))
  }

  /** Micro-batches between full store-side rebuilds: bounds both the
    * `recent` union chain's plan size and the staleness of the cached
    * corpus-sized tables. The soak measured ~1 s/batch of added plan
    * cost per outstanding recent entry, so the window is kept short.
    */
  val RebuildEvery: Int = 8

  // ---- store content versions (maintenance invalidation) --------------
  // The stream caches store-derived tables in memory; a maintenance op
  // (compaction swaps files under Spark's lineage, redaction CHANGES
  // content) must invalidate them. Maintenance bumps the store's
  // version; the stream rebuilds its side state on the next batch. The
  // version is a MARKER FILE in the store directory (not a per-JVM
  // map), so maintenance executed from a DIFFERENT process also forces
  // the ingesting stream's rebuild — the per-batch cost is one small
  // control-file read. Writes are lease-guarded ([[acquireLease]]'s
  // single-writer contract), so read-increment-write here cannot race.
  private def canonical(storeDir: String): String =
    Dfs.qualified(storeDir).toString
  private def versionPath(storeDir: String): Path =
    new Path(Dfs.qualified(storeDir), "_version")
  def storeVersion(storeDir: String): Long = {
    val p = versionPath(storeDir)
    if (!Dfs.isFile(p)) 0L
    else Dfs.readString(p).trim.toLongOption.getOrElse(0L)
  }
  private def bumpStoreVersion(storeDir: String): Unit =
    Dfs.writeStringAtomic(versionPath(storeDir),
      (storeVersion(storeDir) + 1L).toString)

  // ---- single-writer lease ---------------------------------------------
  // The swap journal and the in-memory side caches assume ONE writer
  // per store directory: two ingest streams (or a foreign maintenance
  // process under a live stream) interleaving `_swap_<b>` journals
  // would corrupt silently. The lease makes the assumption ENFORCED:
  // `_lease` carries the owner's JVM token, its mtime is the heartbeat
  // (touched every micro-batch), and a second writer fails LOUD with
  // the owner in the message. A stale lease — heartbeat older than
  // [[LeaseStaleMs]], i.e. a crashed owner — is reclaimable;
  // [[recoverStore]] heals whatever the dead owner left behind.

  /** Heartbeat age beyond which a lease is considered abandoned.
    * Override via `SPARK_GRAFT_LEASE_STALE_MS` (or directly in tests);
    * size it well above the slowest expected micro-batch.
    */
  @volatile var LeaseStaleMs: Long =
    sys.env.get("SPARK_GRAFT_LEASE_STALE_MS").map(_.toLong)
      .getOrElse(10L * 60L * 1000L)

  private val defaultToken = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"${rt.getName}:${rt.getStartTime}"
  }

  /** TEST-ONLY seam: lets a spec impersonate a writer in "another
    * process" on the current thread (two racing reclaimers, a foreign
    * maintenance op) without forking JVMs. Unset everywhere else, so
    * production identity is the process token.
    */
  private[graft] val tokenOverride = new ThreadLocal[String]()
  private def jvmToken: String =
    Option(tokenOverride.get).getOrElse(defaultToken)

  // in-process registry: canonical store dir -> the live ingest query
  // (or a reservation while one is starting). Two streams in ONE JVM
  // share the jvmToken, so the lease file alone cannot see them.
  private val activeStreams =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private object Reserved

  // per-store monitor serializing SAME-JVM writer transitions (a
  // stream starting vs a maintenance op acquiring or releasing): the
  // lease file is re-entrant for this JVM's token, so only in-process
  // state can order these — without it, a maintenance op that
  // observed "not owned" could acquire, and its release could then
  // delete the lease from under a stream that started (re-entrantly)
  // during its body
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(c: String): Object =
    storeLocks.computeIfAbsent(c, _ => new Object)

  // in-flight same-JVM maintenance ops: a stream must not START
  // mid-maintenance in this process (the shared token makes the lease
  // blind to that interleaving; cross-process starts are refused by
  // the lease itself)
  private val activeMaintenance =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def leasePath(storeDir: String): Path =
    new Path(Dfs.qualified(storeDir), "_lease")

  /** Lease file content: `token\nepoch`. The epoch is the store's
    * monotonic acquisition GENERATION — bumped on every fresh acquire
    * and every reclaim — and is what [[verifyWriteFence]] compares at
    * the data writes, so no lease-file anomaly (a delayed heartbeat, a
    * same-token re-acquisition on another thread) can let a superseded
    * writer land an append. A legacy single-line lease parses as
    * epoch 0 (foreign tokens written by older tooling still deny/fence
    * exactly as before).
    */
  private final case class LeaseInfo(token: String, epoch: Long)
  private def leaseBody(token: String, epoch: Long): String =
    s"$token\n$epoch"
  private def parseLease(s: String): LeaseInfo = {
    val lines = s.split("\n", 3)
    LeaseInfo(lines(0).trim,
      if (lines.length > 1) lines(1).trim.toLongOption.getOrElse(0L)
      else 0L)
  }
  private def readLeaseInfo(p: Path): LeaseInfo =
    parseLease(try Dfs.readString(p) catch { case _: Exception => "" })

  /** The persistent generation watermark (`_lease.gen`): survives clean
    * releases (which delete `_lease` and would otherwise lose the
    * count), so a fresh acquire after a release still gets a STRICTLY
    * larger epoch than every prior acquisition. Written only while
    * holding the lease (create-exclusive win or claim-arbitrated
    * reclaim), so the read-increment-write cannot race; a crash
    * between the lease write and the gen write understates it by one,
    * which the reclaim path's `max(gen, stale epoch) + 1` heals.
    */
  private def genPath(storeDir: String): Path =
    new Path(Dfs.qualified(storeDir), "_lease.gen")
  private def readGen(storeDir: String): Long = {
    val p = genPath(storeDir)
    if (!Dfs.isFile(p)) 0L
    else (try Dfs.readString(p) catch { case _: Exception => "" })
      .trim.toLongOption.getOrElse(0L)
  }

  // the acquisition epoch each (store, token) writer in this JVM
  // currently holds — the in-memory half of the write fence
  private val ownedEpochs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
  private def recordEpoch(storeDir: String, epoch: Long): Unit = {
    ownedEpochs.put((canonical(storeDir), jvmToken), epoch); ()
  }
  private[graft] def recordedEpoch(storeDir: String): Option[Long] =
    Option(ownedEpochs.get((canonical(storeDir), jvmToken)))

  /** Age beyond which a `_lease.claim` arbitration marker is considered
    * a crashed claimant's husk. The claim window is job-free (one
    * verify read plus two small control writes), so a minute is already
    * ~6 orders of magnitude above its expected hold time.
    */
  @volatile var ClaimStaleMs: Long = 60000L

  private def claimPath(storeDir: String): Path =
    new Path(Dfs.qualified(storeDir), "_lease.claim")

  /** Acquire the store's writer lease file for this JVM. Fail-loud when
    * a DIFFERENT live writer holds it; re-entrant for this JVM (the
    * in-process double-stream case is caught by [[activeStreams]]).
    * Create-exclusive first, so two fresh acquirers cannot both win.
    * A STALE lease (crashed owner) is taken over through
    * [[reclaimStale]]'s claim-marker arbitration — the lease file is
    * never moved aside or deleted during a reclaim, so at every
    * instant an acquirer finds either a fresh lease (denied) or a
    * stale one (routed through the same arbitration). The round-15
    * move-aside reclaim had a gap here: between its rename-aside and
    * rename-back there was NO lease file, and a third acquirer could
    * win create-exclusive inside it.
    */
  private[graft] def acquireLease(storeDir: String): Unit =
    acquireLease(storeDir, tornRetries = 0)

  private def acquireLease(storeDir: String, tornRetries: Int): Unit = {
    val p = leasePath(storeDir)
    def denied(owner: String, age: Long): Nothing =
      throw new IllegalStateException(
        s"store ${canonical(storeDir)} is leased by another writer " +
          s"($owner, heartbeat $age ms ago); a second concurrent writer " +
          "would corrupt the swap journal. A stale lease (crashed " +
          s"owner) is reclaimable after LeaseStaleMs=$LeaseStaleMs ms.")
    Dfs.status(p) match {
      case None =>
        val epoch = readGen(storeDir) + 1L
        // writeStringExclusive is the ATOMIC create-exclusive (O_EXCL
        // on local; server-side exclusivity elsewhere): of N racing
        // fresh acquirers exactly one's create lands — the Hadoop
        // local create's check-then-create TOCTOU let two both "win"
        try Dfs.writeStringExclusive(p, leaseBody(jvmToken, epoch))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            // lost the create race — re-check as an existing lease
            return acquireLease(storeDir, tornRetries)
          case e: java.io.IOException =>
            // a non-local scheme whose create is multi-step can fail
            // with a generic IO error under concurrent delete/rename
            // interference. Transient, so retry — BOUNDED: a
            // persistent IO failure (disk full, EACCES, read-only fs)
            // must propagate loud, not spin the stack.
            if (tornRetries >= 5) throw e
            return acquireLease(storeDir, tornRetries + 1)
        }
        Dfs.writeStringAtomic(genPath(storeDir), epoch.toString)
        recordEpoch(storeDir, epoch)
      case Some(st) =>
        val info = readLeaseInfo(p)
        val age = System.currentTimeMillis() - st.getModificationTime
        if (info.token == jvmToken) {
          // re-entrant refresh: keep the file's epoch (this JVM's
          // current acquisition) and adopt it in the registry
          Dfs.writeStringAtomic(p, leaseBody(jvmToken, info.epoch))
          recordEpoch(storeDir, info.epoch)
          return
        }
        if (age < LeaseStaleMs) denied(info.token, age)
        if (!reclaimStale(storeDir, p, info, st))
          // takeover did not happen (arbitration lost, owner's delayed
          // heartbeat landed, lease replaced): re-evaluate from scratch
          // — a now-fresh lease denies through the normal path
          acquireLease(storeDir, tornRetries)
    }
  }

  /** Single-winner takeover of a lease already judged stale, arbitrated
    * by a create-exclusive `_lease.claim` marker and executed as an
    * in-place atomic REPLACE of the lease file. The lease is never
    * absent during arbitration: a concurrent acquirer always finds a
    * file at `_lease` — fresh denies it, stale routes it into this
    * same claim gate, where the marker admits exactly one claimant.
    * Under the claim the lease is re-verified to be EXACTLY the corpse
    * we judged — same token, same epoch, same heartbeat mtime. A moved
    * mtime is a live owner whose delayed heartbeat landed inside our
    * window (a long GC pause); a changed token/epoch is a takeover
    * that already happened. Either way the lease file was never
    * touched and the claimant backs off. Returns true iff THIS
    * claimant now owns the lease.
    */
  private def reclaimStale(storeDir: String, p: Path, stale: LeaseInfo,
      st: FileStatus): Boolean = {
    reclaimPauseHook(storeDir)
    val claim = claimPath(storeDir)
    var created = false
    var torn = 0
    while (!created) {
      // the ATOMIC create-exclusive: the claim gate's single-winner
      // property IS this call (the Hadoop local create's check-then-
      // create TOCTOU let two claimants both pass and both take over)
      try { Dfs.writeStringExclusive(claim, jvmToken)
        created = true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          Dfs.status(claim) match {
            case Some(cs) if System.currentTimeMillis() -
                cs.getModificationTime >= ClaimStaleMs =>
              // a claimant crashed inside its (job-free, microseconds)
              // arbitration window: remove the husk SINGLE-WINNER —
              // rename-aside first, so two removers cannot both
              // "delete" and then both create — and re-evaluate
              val gone = new Path(p.getParent, s"_lease.claim.gone." +
                java.util.UUID.randomUUID().toString.take(8))
              try { Dfs.rename(claim, gone)
                Dfs.delete(gone, recursive = false); () }
              catch { case _: java.io.FileNotFoundException => () }
              return false
            case Some(_) =>
              val who = try Dfs.readString(claim).trim
                catch { case _: Exception => "?" }
              throw new IllegalStateException(
                s"store ${canonical(storeDir)}: a stale-lease reclaim " +
                  s"is already being arbitrated by $who; retry after " +
                  "it settles (the claim marker outlives a crashed " +
                  s"claimant for at most ClaimStaleMs=$ClaimStaleMs ms)")
            case None => return false // claim vanished: re-evaluate
          }
        case e: java.io.IOException =>
          // torn local create (see acquireLease) — bounded retry
          torn += 1
          if (torn > 5) throw e
      }
    }
    try {
      claimPauseHook(storeDir)
      val curSt = Dfs.status(p)
      val cur = curSt.map(_ => readLeaseInfo(p))
      val unchanged =
        curSt.exists(_.getModificationTime == st.getModificationTime) &&
          cur.exists(i => i.token == stale.token && i.epoch == stale.epoch)
      if (!unchanged) false
      else {
        val epoch = math.max(readGen(storeDir), stale.epoch) + 1L
        Dfs.writeStringAtomic(p, leaseBody(jvmToken, epoch))
        Dfs.writeStringAtomic(genPath(storeDir), epoch.toString)
        recordEpoch(storeDir, epoch)
        true
      }
    } finally { Dfs.delete(claim, recursive = false); () }
  }

  /** Delete the lease ONLY if it still carries this JVM's token. An
    * unconditional delete let a hung owner — whose stale lease another
    * process had legitimately reclaimed — destroy the NEW owner's lease
    * on its eventual termination, unfencing a third writer. The
    * read-check-delete here is not atomic, but the residual window is
    * a reclaim landing between the read and the delete of a lease that
    * WAS ours — orders of magnitude narrower than deleting blind, and
    * a loss there still needs a second already-stale reclaim to matter.
    */
  private def deleteLeaseIfOwn(storeDir: String): Unit = {
    val p = leasePath(storeDir)
    val own = Dfs.status(p).exists(_ => readLeaseInfo(p).token == jvmToken)
    if (own) { Dfs.delete(p, recursive = false); () }
  }

  private[graft] def releaseLease(storeDir: String): Unit = {
    activeStreams.remove(canonical(storeDir))
    deleteLeaseIfOwn(storeDir)
  }

  /** Refresh the lease's heartbeat — and FENCE: a lease that no longer
    * carries this JVM's token means we were presumed dead and another
    * writer legitimately reclaimed; continuing to append would be the
    * exact double-writer the lease exists to prevent, so the batch (and
    * with it the query) fails loud instead. A deleted lease is
    * restored (create-exclusive; losing that race is the same fencing
    * case).
    */
  private[graft] def heartbeatLease(storeDir: String): Unit =
    heartbeatLease(storeDir, tornRetries = 0)

  private def heartbeatLease(storeDir: String, tornRetries: Int): Unit = {
    val p = leasePath(storeDir)
    def fenced(owner: String): Nothing =
      throw new IllegalStateException(
        s"writer fenced off ${canonical(storeDir)}: the lease now " +
          s"belongs to $owner (this writer was presumed dead and " +
          "reclaimed); stopping rather than double-writing.")
    Dfs.status(p) match {
      case Some(_) =>
        val info = readLeaseInfo(p)
        if (info.token != jvmToken) fenced(info.token)
        recordedEpoch(storeDir) match {
          case Some(e) if e != info.epoch =>
            // same token, different acquisition: this JVM re-acquired
            // (or was reclaimed and re-released) since this writer's
            // acquire — a superseded writer must not refresh it
            fenced(s"${info.token} at epoch ${info.epoch} " +
              s"(this writer holds epoch $e)")
          case _ => ()
        }
        Dfs.touch(p)
      case None =>
        // restore with the RECORDED epoch — ownership continuity, not
        // a new acquisition (a writer with no recorded epoch has never
        // acquired here; give it a fresh generation)
        val epoch = recordedEpoch(storeDir)
          .getOrElse(readGen(storeDir) + 1L)
        try Dfs.writeStringExclusive(p, leaseBody(jvmToken, epoch))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            return heartbeatLease(storeDir, tornRetries)
          case e: java.io.IOException =>
            // non-local multi-step create raced by a delete/rename —
            // see acquireLease: transient interference retries,
            // BOUNDED so a persistent IO failure propagates loud
            // instead of spinning
            if (tornRetries >= 5) throw e
            return heartbeatLease(storeDir, tornRetries + 1)
        }
        if (recordedEpoch(storeDir).isEmpty) {
          Dfs.writeStringAtomic(genPath(storeDir), epoch.toString)
          recordEpoch(storeDir, epoch)
        }
    }
  }

  /** Data-write fence, called at the commit-adjacent point of every
    * store mutation ([[appendStore]] entry, [[swapBucket]] just before
    * its journal marker). An existing lease must carry THIS writer's
    * token — and, once this JVM recorded its acquisition epoch, the
    * same epoch — or the write is rejected HERE rather than at the
    * next heartbeat: a writer whose stale lease was legitimately
    * reclaimed mid-batch can no longer land its in-flight append. No
    * lease file at all is the unleased single-user batch mode
    * (seeding, one-shot jobs, tests) and stays writable exactly as
    * before. The cost is one control-file read per store mutation; the
    * residual race is the instants between this read and the physical
    * commit — one syscall sequence, vs a full heartbeat interval
    * without it. Closing even that needs storage-enforced conditional
    * writes (HDFS lease recovery, object-store conditional puts) — the
    * MIGRATION.md deployment note.
    */
  private[graft] def verifyWriteFence(storeDir: String): Unit = {
    val p = leasePath(storeDir)
    if (Dfs.status(p).isEmpty) return
    val info = readLeaseInfo(p)
    // an unreadable lease that is GONE on re-check was released mid-
    // check (clean stop racing a last append) — that is the unleased
    // mode, not a fence
    if (info.token.isEmpty && Dfs.status(p).isEmpty) return
    def fenced(detail: String): Nothing =
      throw new IllegalStateException(
        s"write fenced off ${canonical(storeDir)}: $detail — this " +
          "writer was superseded; aborting the store write instead of " +
          "double-writing.")
    if (info.token != jvmToken)
      fenced(s"the lease belongs to ${info.token}")
    recordedEpoch(storeDir) match {
      case Some(e) if e != info.epoch =>
        fenced(s"the lease is at epoch ${info.epoch}, this writer " +
          s"holds epoch $e")
      case None =>
        // a lease this JVM holds but never recorded (hand-written in a
        // test, a legacy single-line file): adopt its epoch
        recordEpoch(storeDir, info.epoch)
      case _ => ()
    }
  }

  /** Maintenance-op guard: a FRESH lease held by a different JVM means
    * a live writer elsewhere — interleaving maintenance would corrupt;
    * refuse loud. A lease of THIS JVM is the supported coordinate-
    * between-batches pattern (the version bump forces the stream's
    * side rebuild); a stale one is a crashed owner [[recoverStore]]
    * heals.
    */
  private def requireMaintenanceSafe(storeDir: String): Unit = {
    val p = leasePath(storeDir)
    Dfs.status(p).foreach { st =>
      val owner = readLeaseInfo(p).token
      val age = System.currentTimeMillis() - st.getModificationTime
      if (owner != jvmToken && age < LeaseStaleMs)
        throw new IllegalStateException(
          s"refusing maintenance on ${canonical(storeDir)}: a live " +
            s"ingest stream in another process holds the lease ($owner, " +
            s"heartbeat $age ms ago). Run maintenance from the owning " +
            "process between batches, or after the stream stops.")
    }
  }

  /** TEST-ONLY seam: invoked while a maintenance op HOLDS the lease,
    * before any store mutation — a spec can race a foreign acquirer
    * against the held lease and assert the loud refusal.
    */
  private[graft] var maintenancePauseHook: String => Unit = _ => ()

  /** TEST-ONLY seam, fired between a reclaim's staleness decision and
    * its claim-marker create — the window in which a faster claimant
    * can complete its whole reclaim+acquire cycle (the stolen-fresh-
    * lease interleaving the verify-under-claim repairs without ever
    * touching the lease file).
    */
  private[graft] var reclaimPauseHook: String => Unit = _ => ()

  /** TEST-ONLY seam, fired while a claimant HOLDS the `_lease.claim`
    * arbitration marker, before its verify-and-takeover — a spec can
    * hammer [[acquireLease]] from a third writer throughout a
    * mistaken-reclaim interleaving and assert it never wins (the lease
    * file exists at every instant, and the claim gate admits one).
    */
  private[graft] var claimPauseHook: String => Unit = _ => ()

  /** Run a maintenance body under the writer lease. Maintenance used to
    * only CHECK for a foreign fresh lease and then run UNLEASED on an
    * idle store — so a stream starting in another process mid-
    * maintenance saw no lease, won `acquireLease`, and raced
    * `recoverStore` against the in-flight swap journal (and two idle-
    * store maintenance processes could interleave the same way). Now:
    *  - a lease this JVM already holds (the stream's between-batches
    *    pattern, or a same-JVM nested call) is KEPT — heartbeat only,
    *    never released from under its owner;
    *  - otherwise acquire for the body's duration (fresh foreign lease
    *    ⇒ [[requireMaintenanceSafe]]'s loud maintenance-specific
    *    refusal first; stale ⇒ the single-winner reclaim) and release
    *    on the way out, success or failure.
    */
  private def withMaintenanceLease[T](storeDir: String)(body: => T): T = {
    val c = canonical(storeDir)
    val lock = lockFor(c)
    // the acquire DECISION is serialized against same-JVM stream
    // starts (see [[lockFor]]); the body runs outside the monitor
    val acquiredHere = lock.synchronized {
      requireMaintenanceSafe(storeDir)
      val p = leasePath(storeDir)
      val ownedAlready =
        Dfs.status(p).exists(_ => readLeaseInfo(p).token == jvmToken)
      if (ownedAlready) Dfs.touch(p) else acquireLease(storeDir)
      activeMaintenance.add(c)
      !ownedAlready
    }
    try {
      maintenancePauseHook(storeDir)
      body
    } finally lock.synchronized {
      activeMaintenance.remove(c)
      // release ONLY a lease this op took itself, and never from under
      // a stream that registered meanwhile (stream starts are refused
      // while activeMaintenance holds the store — the registry check
      // is belt and braces); an unconditional releaseLease here could
      // unfence the store under a live same-token writer
      if (acquiredHere && !activeStreams.containsKey(c))
        deleteLeaseIfOwn(storeDir)
    }
  }

  /** Per-stream store-side state: the corpus-sized tables
    * [[Curation.acceptDelta]] consumes (ids, hashed texts,
    * signatures, exploded bands + their counts, IVF cells, the
    * prepared holdout, the frozen embedding leaf), derived ONCE per
    * store version and APPENDED to in memory as batches commit —
    * never re-derived per micro-batch. The round-12 stream re-derived all of them (plus
    * the holdout Bloom filter and the store-wide token sum) for every
    * few-doc delta: ~20 jobs/batch of pure floor, which IS the
    * product's micro-batch latency. Now a batch pays only its
    * delta-sized chain; the store side is cache reads.
    *
    *  - `recent` holds the appended rows since the last rebuild as
    *    eagerly localCheckpoint'ed frames (lineage truncated — batch
    *    N's plan must not nest batch N−1's whole delta chain);
    *  - a full rebuild happens when the store VERSION bumps
    *    (maintenance ran) or every [[RebuildEvery]] batches (bounds
    *    the union chain);
    *  - the holdout artifact is FROZEN for the stream's life — one
    *    Bloom build total, not one per batch.
    */
  private final class IngestState(storeDir: String, emb0: DataFrame,
      trained: Seq[(Long, Seq[Float])], holdout: DataFrame) {
    // the embedding table is a FROZEN side artifact for the stream's
    // life (like the holdout): materialize it once as a checkpoint
    // leaf so the per-batch delta-vector fetch scans memory instead of
    // re-reading the whole embeddings parquet every micro-batch (at
    // production scale the at-rest table would be bucketed by vec_id
    // and the fetch partition-pruned; in-memory is this deployment's
    // equivalent)
    lazy val emb: DataFrame = emb0.localCheckpoint(true)
    private var side: Curation.StoreSide = null
    private var bands: DataFrame = null
    private var bandCounts: DataFrame = null
    private var hotBaseLocal: Option[Set[(Int, String)]] = None
    private var recent: List[DataFrame] = Nil
    private var builtAtVersion = -1L
    private var batchesSince = 0
    private var holdoutPrepared: Dedup.HoldoutCodes = null

    def ensureFresh(s: SparkSession): Unit = {
      val v = storeVersion(storeDir)
      // increment BEFORE the comparison so the rebuild cadence matches
      // RebuildEvery exactly (incrementing only on non-rebuild batches
      // stretched the window to RebuildEvery+1 and let the recent
      // union chain grow one entry past the documented bound)
      batchesSince += 1
      if (side == null || v != builtAtVersion ||
        batchesSince >= RebuildEvery) rebuild(s, v)
    }

    /** The side tables are EAGER localCheckpoints, not `.cache()`s —
      * a measured driver-floor decision, not a style one. A cached
      * side frame keeps its FULL analyzed plan (store scan + the
      * k×dim centroid expression tree) registered in the session
      * CacheManager, and then EVERY per-batch cache/uncache/write
      * walks those trees: the parquet append's refreshByPath and the
      * delta-cache release each canonicalized every entry, measured
      * at 7–9 s and 15–19 s per few-doc batch — 70% of the whole
      * micro-batch. A localCheckpoint is a LogicalRDD LEAF: same
      * block-manager residency, but no cache entry to scan, no path
      * reference for the append to refresh, and a one-node plan under
      * every downstream analysis. A rebuild releases the previous
      * version's leaves and the window's row leaves explicitly: no plan
      * references them once the batches that read them have committed,
      * and left to the ContextCleaner they stay persisted until a GC
      * happens to collect them.
      */
    private def rebuild(s: SparkSession, v: Long): Unit = {
      val stale = recent ++ Option(side).toSeq.flatMap(x =>
        Seq(x.ids, x.texts, x.sigs, x.cells)) ++ Option(bands) ++
        Option(bandCounts)
      stale.foreach(org.apache.spark.sql.graft.GraftExec.leafRdd(_)
        .foreach(_.unpersist(blocking = false)))
      recent = Nil
      // the stream owns its holdout artifact; checkpoint-backed for
      // the same plan-leaf reason
      if (holdoutPrepared == null) {
        val codes = Dedup.shingleSets(holdout)
          .select(explode_outer(col("tset")).as("code"))
          .filter(col("code").isNotNull).distinct()
          .localCheckpoint(true)
        val n = codes.count()
        val bytes = if (n == 0) None else Some {
          val bloom = codes.stat.bloomFilter("code", n, 0.03)
          val b = new java.io.ByteArrayOutputStream()
          bloom.writeTo(b)
          b.toByteArray
        }
        holdoutPrepared = Dedup.HoldoutCodes(codes, n, bytes)
      }
      val store = readStore(s, storeDir)
      val sigs = Dedup.signatureFrame(store).localCheckpoint(true)
      side = Curation.StoreSide(
        ids = store.select(col("doc_id")).localCheckpoint(true),
        texts = store.select(xxhash64(col("text")).as("__h"),
          col("text")).localCheckpoint(true),
        sigs = sigs,
        cells = Similarity.ivfAssign(
          emb.join(store.select(col("doc_id").as("vec_id")),
            Seq("vec_id")), trained).localCheckpoint(true),
        holdout = holdoutPrepared)
      // the store's exploded band table and its per-key counts — the
      // hot-bucket cap's input — derived once per store version so a
      // micro-batch never re-explodes or re-aggregates the store
      // (Curation.BandSide; the per-batch hot-key set is an EXACT
      // delta-sized reconciliation against these leaves)
      bands = Dedup.explodedBands(sigs).localCheckpoint(true)
      bandCounts = bands.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint(true)
      // the BASE hot-key set, collected once per store version: the
      // local tier's hot probe is then job-free on every empty-window
      // batch (the first after each rebuild)
      hotBaseLocal = Curation.collectHotBaseLocal(s, bandCounts)
      builtAtVersion = v
      batchesSince = 0
    }

    /** The side the CURRENT batch dedups against: the rebuilt base plus
      * per-row derivations of the rows appended since — identical by
      * construction to re-deriving from disk (every derived table is a
      * per-row function of frozen inputs).
      */
    def effectiveSide: Curation.StoreSide =
      if (recent.isEmpty) side
      else {
        val r = recent.reduce(_ unionByName _)
        Curation.StoreSide(
          side.ids.unionByName(r.select(col("doc_id"))),
          side.texts.unionByName(
            r.select(xxhash64(col("text")).as("__h"), col("text"))),
          side.sigs.unionByName(Dedup.signatureFrame(r)),
          side.cells.unionByName(Similarity.ivfAssign(
            emb.join(r.select(col("doc_id").as("vec_id")), Seq("vec_id")),
            trained)),
          side.holdout)
      }

    /** The prepared band artifacts matching [[effectiveSide]]'s sigs. */
    def effectiveBands: Curation.BandSide =
      if (recent.isEmpty)
        Curation.BandSide(bands, bandCounts, None, hotBaseLocal)
      else {
        val r = recent.reduce(_ unionByName _)
        Curation.BandSide(bands, bandCounts,
          Some(Dedup.explodedBands(Dedup.signatureFrame(r))),
          hotBaseLocal)
      }

    def addRecent(rows: DataFrame): Unit = recent = recent :+ rows
  }

  /** Start the ingest stream: raw delta docs (doc_id, lang, source,
    * n_chars, text) → clean → [[Curation.acceptDelta]] against the
    * current store side → append accepted docs to `storeDir`. The pack
    * manifest is NOT computed per batch — it is a deterministic view
    * of the store ([[manifestView]]), so the stream skips the q122
    * pack-append stage (store-wide token sum + two-phase prefix scan)
    * entirely.
    *
    * Delta-sizing contract: none on the caller. The chain picks its
    * join physics from each batch's OBSERVED stage counts
    * ([[Curation.acceptDelta]]): a micro-batch under
    * [[Curation.DropListCap]] rows gets explicit broadcasts and the
    * driver-local tier (the measured 21-jobs/batch floor under the
    * scoped AQE-off), while an unthrottled backlog replay over the cap
    * runs the shuffle-join shapes with distributed drop lists — slower
    * per batch, but never a multi-gigabyte broadcast build or an
    * O(batch) driver collect.
    */
  def ingestStream(deltaStream: DataFrame, emb: DataFrame,
      trained: Seq[(Long, Seq[Float])], holdout: DataFrame,
      storeDir: String, checkpointDir: String): StreamingQuery = {
    val c = canonical(storeDir)
    // in-process single-writer check (reservation-based, so two racing
    // ingestStream calls cannot both pass), serialized against
    // same-JVM maintenance transitions; the lease file below covers
    // writers in OTHER processes
    lockFor(c).synchronized {
      if (activeMaintenance.contains(c))
        throw new IllegalStateException(
          s"store $c has a maintenance op in flight in this process; " +
            "start the stream after it completes — an ingest racing the " +
            "in-flight swap would corrupt the store")
      activeStreams.putIfAbsent(c, Reserved) match {
        case null => ()
        case q: StreamingQuery if !q.isActive =>
          if (!activeStreams.replace(c, q, Reserved))
            throw new IllegalStateException(
              s"store $c already has an ingest stream starting in this process")
        case _ =>
          throw new IllegalStateException(
            s"store $c already has a live ingest stream in this process; " +
              "two writers would corrupt the swap journal")
      }
      try {
        Dfs.mkdirs(Dfs.qualified(storeDir)) // empty store = empty corpus
        acquireLease(storeDir)
      } catch {
        case t: Throwable => activeStreams.remove(c, Reserved); throw t
      }
    }
    try {
      // heal any maintenance op the previous process died inside of —
      // without this, a restart between a crash and the next compaction
      // would ingest against a store whose live partition still sits in
      // _trash (crash state S1), silently losing its dedup protection
      recoverStore(storeDir)
    } catch {
      case t: Throwable =>
        activeStreams.remove(c, Reserved)
        deleteLeaseIfOwn(storeDir) // a failed start must not leave its
        throw t                    // fresh lease to age out
    }
    val state = new IngestState(storeDir, emb, trained, holdout)
    val query = deltaStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        def ph[T](name: String)(f: => T): T =
          Curation.stage(s, s"graft-phase $name")(f)
        // Adaptive execution is scoped OFF for the hot-path body: the
        // staged chain hints every delta-sized build side explicitly
        // (chosen by observed size), so AQE has no plan decision left
        // to improve — it only splits each stage query into one job per
        // exchange (measured on the staged path: 69 vs 21 jobs/batch,
        // batch p50 5.6 vs 3.6 s at 1×).
        // This inverts the round-13 lazy-chain result (AQE-off 60%
        // slower) BECAUSE the broadcasts are now explicit; maintenance
        // ops and every batch surface keep AQE on.
        val aqeKey = "spark.sql.adaptive.enabled"
        val aqePrev = s.conf.get(aqeKey)
        s.conf.set(aqeKey, "false")
        try {
        ph("ensureFresh")(state.ensureFresh(s))
        val clB = Curation.clean(batch)
        // stage materialization happens HERE (checkpoint leaves), so
        // this phase is construct + stage execution
        val accepted = ph("acceptDelta")(
          Curation.acceptDelta(s, state.effectiveSide, clB, state.emb,
            trained, Some(state.effectiveBands)))
        // materialize ONCE with truncated lineage: the appended rows
        // feed both the store write and the in-memory side increment,
        // and a lazy frame would chain every batch's delta plan into
        // the next batch's side. Checkpoint + count + the batch's
        // doc_ids all ride ONE fused action (the ids — column 0 of the
        // select — feed the sidecar merge, keeping redaction discovery
        // bounded on never-compacted hot buckets; the emptiness probe
        // rides the count). The id collection is capped: a
        // backlog-replay burst over the cap comes back None and the
        // bucket's sidecar is INVALIDATED instead of merged — the
        // always-correct scan fallback. Bucket hint: the batch id is a
        // literal, so the touched bucket is driver arithmetic.
        val (rows, nRows, ids) = ph("localCheckpoint")(
          org.apache.spark.sql.graft.GraftExec.checkpointCounted(
            accepted.select(col("doc_id"), col("lang"), col("source"),
              col("n_chars"), col("text"), tokCount,
              lit(batchId).as("ingest_batch")), reliable = false,
            keyOrdinal = 0, cap = graft.queries.Curation.DropListCap))
        if (nRows > 0) {
          ph("appendStore")(appendStore(rows, storeDir,
            touchedBuckets = Some(Seq(batchId / BatchesPerBucket)),
            newIds = ids))
          state.addRecent(rows)
        }
        ph("clearSigCaches")(Dedup.clearSignatureCaches())
        heartbeatLease(storeDir)
        } finally s.conf.set(aqeKey, aqePrev)
        ()
      }
      .start()
    activeStreams.put(c, query)
    // release the lease when the query terminates (stop or failure);
    // the listener self-removes. A crash that skips this leaves a
    // lease whose heartbeat ages out — the documented reclaim path.
    val session = deltaStream.sparkSession
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          activeStreams.remove(c, query)
          // compare-and-delete, TWICE over: a hung owner whose stale
          // lease was reclaimed by another process must not delete the
          // new owner's lease (token check), and a LATE listener —
          // termination events are async — must not delete the lease
          // from under a successor stream started in this same JVM
          // after the stop (same token, so only the registry can see
          // it)
          lockFor(c).synchronized {
            if (!activeStreams.containsKey(c)) deleteLeaseIfOwn(storeDir)
          }
          session.streams.removeListener(this)
          ()
        }
    })
    query
  }

  // ---- per-bucket doc_id sidecars (redaction discovery pruning) --------
  // Redaction's victim discovery used to scan the WHOLE store's doc_id
  // column per compliance call. The sidecar bounds it: each SEALED
  // bucket carries (count, min, max, Bloom-of-doc_ids) under
  // `_idstats/`, written at compaction/redaction time and consulted
  // driver-side, so discovery scans only the buckets that might hold a
  // tombstoned id (plus sidecar-less hot buckets). The discipline is
  // INVALIDATE-FIRST: any writer touching a bucket deletes its sidecar
  // BEFORE writing data, so a crash anywhere leaves either no sidecar
  // (scan fallback — always correct) or a sidecar matching the files.
  // Sidecars prune CANDIDATES only; victims are confirmed exactly by a
  // partition-pruned scan of the candidate buckets, so a Bloom false
  // positive costs a bucket scan, never a spurious rewrite.

  /** Tombstone batches up to this size consult the sidecars driver-side
    * (8 bytes/id on the driver); larger batches fall back to the full
    * column-pruned scan, which a compliance batch that size amortizes.
    * `@volatile var` so a spec can force the over-cap fallback.
    */
  @volatile var RedactCollectCap = 1000000L

  // underscore-prefixed FILE name too (not just the directory): every
  // data-file walker in the store's ecosystem skips `_`/`.` names, and
  // a sidecar is derived control metadata, not data
  private def idStatsPath(storeDir: String, b: Long): Path =
    new Path(Dfs.qualified(storeDir), s"_idstats/_bucket_$b")

  /** `count` is appended-id OCCURRENCES, not distinct ids: an
    * at-least-once replay whose first attempt crashed between the
    * sidecar merge and the data write re-merges the same batch, so the
    * count can over-state until the next maintenance rebuild
    * right-sizes it. Discovery pruning deliberately uses only
    * min/max/blooms (idempotent under re-merge); never use `count` as
    * an exact cardinality.
    *
    * `blooms`/`inserts` are parallel: every bloom but the last is
    * SEALED at its design capacity (its 1% false-positive bound holds
    * forever); the last is the open bloom new ids land in, with
    * `inserts.last` tracking how full it is. A long-lived hot bucket
    * whose FIRST micro-batch was skewed small therefore no longer
    * saturates one under-sized filter toward fp→1: the open bloom
    * seals when full and a doubled successor takes over (see
    * [[mergeIdStats]]), so the sidecar's aggregate false-positive rate
    * stays ≤ 0.01 × blooms.size with blooms.size growing only
    * logarithmically in the bucket's total ids.
    */
  private[graft] final case class IdStats(count: Long, min: Long,
      max: Long, blooms: Seq[org.apache.spark.util.sketch.BloomFilter],
      inserts: Seq[Long]) {
    def mightContain(id: Long): Boolean =
      blooms.exists(_.mightContainLong(id))
  }

  /** The item count a bloom was sized for at fpp 0.01 (≈9.585 bits per
    * item, the optimal-m formula `create` rounds up from) — past it the
    * design false-positive bound no longer holds and the filter must be
    * sealed, not fed further.
    */
  private def bloomDesignCapacity(
      bf: org.apache.spark.util.sketch.BloomFilter): Long =
    math.max(4096L, (bf.bitSize() / 9.585).toLong)

  private[graft] def readIdStats(storeDir: String,
      b: Long): Option[IdStats] = {
    val p = idStatsPath(storeDir, b)
    if (!Dfs.isFile(p)) None
    else try {
      val lines = Dfs.readString(p).split("\n")
      val count = lines(0).trim.toLong
      val parsed = lines.drop(3).filter(_.nonEmpty).map { l =>
        // `inserts:base64`; a legacy line is bare base64 with UNKNOWN
        // inserts — assume the filter is at the total count (the safe
        // direction: it seals on the next merge and growth takes over)
        val (ins, b64) = l.indexOf(':') match {
          case -1 => (count, l.trim)
          case i => (l.take(i).trim.toLong, l.drop(i + 1).trim)
        }
        (org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b64))), ins)
      }.toSeq
      if (parsed.isEmpty) None
      else Some(IdStats(count, lines(1).trim.toLong,
        lines(2).trim.toLong, parsed.map(_._1), parsed.map(_._2)))
    } catch { case _: Exception => None } // torn/garbled sidecar = scan
  }

  private def writeIdStats(storeDir: String, b: Long, st: IdStats): Unit = {
    val bloomLines = st.blooms.zip(st.inserts).map { case (bf, ins) =>
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      s"$ins:" + java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    Dfs.writeStringAtomic(idStatsPath(storeDir, b),
      s"${st.count}\n${st.min}\n${st.max}\n" + bloomLines.mkString("\n"))
  }

  /** Fold a micro-batch's ids into its bucket's sidecar BEFORE the data
    * write — the inverse of the rewrite paths' invalidate-first, and
    * safe for the same reason: a sidecar may only ever OVER-state a
    * bucket's ids (a crash between the sidecar write and the data write
    * leaves extra candidates — a wasted confirm scan, never a skipped
    * victim). This is what keeps redaction discovery bounded on a store
    * that has NEVER been compacted: hot buckets are covered from their
    * first append, not from the first maintenance pass. A fresh
    * sidecar's open Bloom is sized with a bucket's worth of headroom;
    * when merges fill it past its design capacity it is SEALED (its 1%
    * fp bound intact) and a successor sized at twice that capacity —
    * or the incoming batch × [[BatchesPerBucket]], whichever is larger
    * — takes the inserts, so a skewed first micro-batch can no longer
    * saturate the filter toward fp→1 between maintenance passes.
    * Maintenance rebuilds still collapse the chain to one right-sized
    * filter.
    */
  private[graft] def mergeIdStats(storeDir: String, b: Long,
      ids: Array[Long]): Unit = {
    if (ids.isEmpty) return
    val merged = readIdStats(storeDir, b) match {
      case Some(st) =>
        val open = st.blooms.last
        val cap = bloomDesignCapacity(open)
        val (blooms, inserts) =
          if (st.inserts.last + ids.length <= cap) {
            ids.foreach(open.putLong)
            (st.blooms,
              st.inserts.init :+ (st.inserts.last + ids.length))
          } else {
            val next = org.apache.spark.util.sketch.BloomFilter.create(
              math.max(cap * 2L,
                ids.length.toLong * BatchesPerBucket), 0.01)
            ids.foreach(next.putLong)
            (st.blooms :+ next, st.inserts :+ ids.length.toLong)
          }
        IdStats(st.count + ids.length, math.min(st.min, ids.min),
          math.max(st.max, ids.max), blooms, inserts)
      case None =>
        val bloom = org.apache.spark.util.sketch.BloomFilter.create(
          math.max(ids.length.toLong * BatchesPerBucket, 4096L), 0.01)
        ids.foreach(bloom.putLong)
        IdStats(ids.length.toLong, ids.min, ids.max, Seq(bloom),
          Seq(ids.length.toLong))
    }
    writeIdStats(storeDir, b, merged)
  }

  private def invalidateIdStats(storeDir: String, buckets: Seq[Long]): Unit =
    buckets.foreach { b =>
      Dfs.delete(idStatsPath(storeDir, b), recursive = false); ()
    }

  private def invalidateAllIdStats(storeDir: String): Unit = {
    Dfs.delete(new Path(Dfs.qualified(storeDir), "_idstats"))
    ()
  }

  /** (Re)build the sidecar for every live bucket missing one — each
    * build scans ONLY that bucket's doc_id column. Called at the end of
    * [[compactStore]]/[[redactStore]] (so sealed buckets are covered
    * from the first maintenance pass; hot buckets invalidated by
    * appends are re-covered on the next one) and callable standalone.
    */
  def buildIdStats(spark: SparkSession, storeDir: String): Unit =
    liveBuckets(storeDir).foreach { b =>
      if (readIdStats(storeDir, b).isEmpty) {
        val ids = spark.read.schema(StoreSchema)
          .parquet(s"$storeDir/batch_bucket=$b").select(col("doc_id"))
        val agg = ids.agg(count(lit(1)), min(col("doc_id")),
          max(col("doc_id"))).collect().head
        val n = agg.getLong(0)
        if (n > 0)
          writeIdStats(storeDir, b, IdStats(n, agg.getLong(1),
            agg.getLong(2),
            Seq(ids.stat.bloomFilter("doc_id", n, 0.01)), Seq(n)))
      }
    }

  // ---- maintenance: staged per-partition rewrites, journaled swaps ----

  private def dataFilesIn(dir: Path): Seq[Path] =
    Dfs.list(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(_.getPath)

  /** Maintenance-op precondition: the store must be the bucketed layout
    * this object writes. A pre-bucketing FLAT store (parquet files at
    * the root, no `batch_bucket=` directories) would otherwise fail
    * confusingly — [[redactStore]]'s partition discovery reads
    * `batch_bucket` as null (NPE on getLong), and [[compactStore]]
    * silently no-ops because [[liveBuckets]] is empty. Fail explicitly
    * with the migration recipe instead: read the flat files with
    * [[StoreSchema]] and re-append through [[appendStore]].
    */
  private def requireBucketedLayout(storeDir: String): Unit = {
    val flat = dataFilesIn(Dfs.qualified(storeDir))
    if (flat.nonEmpty)
      throw new IllegalStateException(
        s"legacy flat store layout at $storeDir: ${flat.size} parquet " +
          "file(s) at the store root with no batch_bucket= partitions. " +
          "Migrate once: read the flat files with CurationStream." +
          "StoreSchema and re-write through appendStore, then delete them.")
  }

  /** The live bucket partition values on disk, oldest first. */
  def liveBuckets(storeDir: String): Seq[Long] =
    Dfs.list(Dfs.qualified(storeDir))
      .filter(f => f.isDirectory &&
        f.getPath.getName.startsWith("batch_bucket="))
      .map(_.getPath.getName.stripPrefix("batch_bucket=").toLong).sorted

  /** Rewrite ONE bucket partition through the staged protocol: read the
    * live partition, transform, write the replacement fully under
    * `_staging/`, then [[swapBucket]]. The live partition is intact on
    * disk until the instant of the atomic rename.
    */
  private def rewriteBucket(spark: SparkSession, storeDir: String,
      bucket: Long, transform: DataFrame => DataFrame,
      targetFiles: Option[Int]): Unit = {
    val staging =
      new Path(Dfs.qualified(storeDir), s"_staging/batch_bucket=$bucket")
    if (Dfs.exists(staging)) Dfs.delete(staging)
    invalidateIdStats(storeDir, Seq(bucket))
    val src = spark.read.schema(StoreSchema)
      .parquet(s"$storeDir/batch_bucket=$bucket")
    val out = transform(src)
    targetFiles.fold(out)(n => out.repartition(n))
      .write.mode("overwrite").parquet(staging.toString)
    swapBucket(storeDir, bucket)
  }

  /** The journaled atomic swap. Commit point = the `_swap_<bucket>`
    * marker, written only AFTER the staging write fully succeeded and
    * deleted only after cleanup; between those instants a crash leaves
    * a state [[recoverStore]] rolls FORWARD (the staging copy is
    * complete by the marker contract). Both renames are same-filesystem
    * atomic moves; the old partition survives in `_trash/` until the
    * new one is live.
    */
  private def swapBucket(storeDir: String, bucket: Long): Unit = {
    val root = Dfs.qualified(storeDir)
    val live = new Path(root, s"batch_bucket=$bucket")
    val staging = new Path(root, s"_staging/batch_bucket=$bucket")
    val trash = new Path(root, s"_trash/batch_bucket=$bucket")
    val marker = new Path(root, s"_swap_$bucket")
    require(Dfs.isDirectory(staging), s"staging missing for bucket $bucket")
    // epoch fence at the commit point: the journal marker is the swap's
    // point of no return — a maintenance op superseded mid-rewrite
    // (its stale lease reclaimed during the staging write) must not
    // commit its swap into the new owner's store
    verifyWriteFence(storeDir)
    Dfs.mkdirs(new Path(root, "_trash"))
    if (Dfs.exists(trash)) Dfs.delete(trash)
    Dfs.writeString(marker, bucket.toString)
    if (Dfs.exists(live)) Dfs.rename(live, trash)
    Dfs.rename(staging, live)
    Dfs.delete(trash)
    Dfs.delete(marker, recursive = false)
    ()
  }

  /** Crash recovery for interrupted maintenance: every `_swap_<b>`
    * marker is rolled forward (marker ⇒ its staging dir was complete),
    * then marker-less `_staging`/`_trash` leftovers — writes that died
    * BEFORE their commit point — are discarded. Idempotent; called at
    * the head of every maintenance op and safe to call at job start.
    * File-level only — a session that already listed the store must
    * `refreshByPath` afterwards (the maintenance ops below do; their
    * staged renames happen behind Spark's FileStatusCache, unlike a
    * DataFrameWriter overwrite which refreshes implicitly).
    */
  def recoverStore(storeDir: String): Unit = {
    val root = Dfs.qualified(storeDir)
    if (!Dfs.isDirectory(root)) return
    Dfs.list(root)
      .filter(f => f.isFile && f.getPath.getName.startsWith("_swap_"))
      .foreach { marker =>
        val b = marker.getPath.getName.stripPrefix("_swap_")
        val live = new Path(root, s"batch_bucket=$b")
        val staging = new Path(root, s"_staging/batch_bucket=$b")
        val trash = new Path(root, s"_trash/batch_bucket=$b")
        if (Dfs.isDirectory(staging)) {
          if (Dfs.exists(live)) {
            if (Dfs.exists(trash)) Dfs.delete(trash)
            Dfs.mkdirs(trash.getParent)
            Dfs.rename(live, trash)
          }
          Dfs.rename(staging, live)
        }
        if (Dfs.exists(trash)) Dfs.delete(trash)
        Dfs.delete(marker.getPath, recursive = false)
        ()
      }
    Seq("_staging", "_trash").foreach { d =>
      val f = new Path(root, d)
      if (Dfs.exists(f)) Dfs.delete(f)
    }
  }

  /** Compact the append-only store: per-micro-batch appends pile up one
    * file set per batch, and at 100 TB the file COUNT, not the byte
    * volume, is what degrades every downstream scan (driver-side
    * listing, footer reads, task scheduling). O(touched): only bucket
    * partitions holding more than `targetFiles` data files are
    * rewritten (to `targetFiles` files each); sealed buckets already at
    * the target are not opened, let alone rewritten — their files stay
    * byte-identical (spec-pinned). Content is untouched, so
    * [[manifestView]] and every subsequent ingest are unchanged.
    */
  def compactStore(spark: SparkSession, storeDir: String,
      targetFiles: Int = 4): Unit = withMaintenanceLease(storeDir) {
    recoverStore(storeDir)
    requireBucketedLayout(storeDir)
    liveBuckets(storeDir).foreach { b =>
      if (dataFilesIn(new Path(Dfs.qualified(storeDir),
          s"batch_bucket=$b")).size > targetFiles)
        rewriteBucket(spark, storeDir, b, identity, Some(targetFiles))
    }
    // the swaps renamed directories behind Spark's FileStatusCache —
    // without this, a later read can serve the pre-swap file listing
    // and die on the deleted files
    spark.catalog.refreshByPath(storeDir)
    buildIdStats(spark, storeDir)
    // content is unchanged, but the FILES are new: a stream's cached
    // side tables would recompute evicted partitions from deleted
    // paths — force a rebuild from the live layout
    bumpStoreVersion(storeDir)
  }

  /** Compliance redaction (tombstones): null the CONTENT of the given
    * docs while keeping their identity, attribution and frozen `n_tok`
    * — every offset a trained model already consumed stays valid, and
    * [[manifestView]] is bit-identical before and after (spec-pinned).
    * O(touched): a column-pruned doc_id scan finds the partitions
    * holding the tombstoned ids, and ONLY those are rewritten — every
    * other partition's files stay byte-identical (spec-pinned).
    * Documented consequence: dedup protection for the redacted content
    * is gone WITH the content (signatures derive from text), so a
    * re-submission of the same content is accepted as new — which is
    * the correct reading of a deletion request.
    */
  def redactStore(spark: SparkSession, storeDir: String,
      ids: Seq[Long]): Unit = {
    if (ids.isEmpty) {
      withMaintenanceLease(storeDir)(recoverStore(storeDir)); return
    }
    import spark.implicits._
    redactStore(spark, storeDir, ids.toDF("doc_id"))
  }

  /** Tombstone-TABLE redaction — the production form: a compliance
    * batch is a table of ids, not a driver list, and a million-id `In`
    * literal is a plan-size/codegen hazard. Victim-partition discovery
    * is a column-pruned semi-join (only (doc_id, batch_bucket) are
    * read); the per-partition rewrite predicate is a LEFT JOIN against
    * the tombstone table (broadcast when small — Spark's size
    * estimation decides), never an inlined literal. Row count is
    * preserved by construction: the join key is distinct()'d first, so
    * a duplicate-laden compliance feed cannot fan out store rows.
    */
  def redactStore(spark: SparkSession, storeDir: String,
      ids: DataFrame): Unit = withMaintenanceLease(storeDir) {
    recoverStore(storeDir)
    requireBucketedLayout(storeDir)
    val tomb = ids.select(col("doc_id")).distinct()
    val live = liveBuckets(storeDir)
    val stats = live.map(b => b -> readIdStats(storeDir, b)).toMap
    // sidecar-pruned discovery: when any sidecar exists and the batch
    // is driver-collectable, candidates = sidecar-less buckets plus
    // buckets whose [min,max] range AND Bloom admit some tombstone;
    // exact confirmation then scans ONLY candidate partitions (the
    // isin partition filter prunes directories at planning time).
    // Over-cap detection rides the SAME action as the fetch.
    val sortedTomb: Option[Array[Long]] =
      if (stats.valuesIterator.forall(_.isEmpty)) None
      else DriverTier.fetchCapped(tomb, RedactCollectCap)(_.getLong(0))
        .map(_.sorted)
    val candidates = sortedTomb match {
      case None => live
      case Some(arr) => live.filter { b =>
        stats(b) match {
          case None => true
          case Some(st) =>
            var i = java.util.Arrays.binarySearch(arr, st.min)
            if (i < 0) i = -i - 1
            var hit = false
            while (!hit && i < arr.length && arr(i) <= st.max) {
              hit = st.mightContain(arr(i)); i += 1
            }
            hit
        }
      }
    }
    val touched =
      if (candidates.isEmpty) Array.empty[Long]
      else spark.read.schema(StoreReadSchema).parquet(storeDir)
        .filter(col("batch_bucket").isin(candidates: _*))
        .select(col("doc_id"), col("batch_bucket"))
        .join(tomb, Seq("doc_id"), "left_semi")
        .select(col("batch_bucket")).distinct()
        .collect().map(_.getLong(0))
    val marked = tomb.withColumn("__victim", lit(true))
    touched.foreach { b =>
      rewriteBucket(spark, storeDir, b, df => df
        .join(marked, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("__victim"), lit(null)).otherwise(col("text")))
        .withColumn("n_chars",
          when(col("__victim"), lit(null)).otherwise(col("n_chars")))
        .drop("__victim"),
        targetFiles = None)
    }
    spark.catalog.refreshByPath(storeDir) // see compactStore
    buildIdStats(spark, storeDir)
    bumpStoreVersion(storeDir) // content changed: stream sides rebuild
  }
}
