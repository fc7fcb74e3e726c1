package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity}
import graft.queries.Curation
import graft.streaming.CurationStream

/** The composed curation code on a seeded corpus, measured inside the
  * `bm25_serve` workload's traced run (see BASELINE.md for why it is
  * not a workload of its own).
  *
  * Phase A is one `Curation.incrementalIngest` of a delta against a base
  * corpus: the q117 store chain, the batch delta chain and pack-append.
  * Phase B seeds a store with `CurationStream.initStore` and runs closed
  * loop micro-batches through `ingestStream`, each sent when the
  * previous one has completed, with `compactStore` after every fifth
  * batch (between batches, while the stream idles). Every delta holds
  * exact duplicates (text and embedding of an earlier document, under a
  * new id) and near duplicates (a few tokens changed) at stated shares.
  */
final class CurationBench(ctx: Ctx) {
  import CurationBench._

  private var base: Seq[Doc] = _
  private var deltaA: Seq[Doc] = _
  private var batches: Seq[Seq[Doc]] = _
  /** Injected exact duplicate id -> the id it copies. */
  private var exactDups: Map[Long, Long] = _
  private var dir: Path = _
  private var trained: Seq[(Long, Seq[Float])] = _

  private def docsFrame(ds: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*), DocSchema)

  private def embFrame(ds: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.id, d.emb.toSeq, (d.id % 10).toInt)): _*), EmbSchema)

  private def prepare(): Unit = {
    val corpus = new Corpus(Vocabulary)
    val rnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val dups = Map.newBuilder[Long, Long]
    def fresh(id: Long) = Doc(id, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}",
      corpus.doc(rnd, 30 + rnd.nextInt(50)), corpus.embedding(rnd, Dim))
    // a delta document: fresh, or a duplicate of an earlier document the
    // same ingest path has seen (`pool`)
    def delta(id: Long, pool: ArrayBuffer[Doc]): Doc = {
      val u = rnd.nextDouble()
      val d =
        if (u < ExactDupShare) {
          val o = pool(rnd.nextInt(pool.size))
          dups += id -> o.id
          o.copy(id = id)
        } else if (u < ExactDupShare + NearDupShare) {
          val o = pool(rnd.nextInt(pool.size))
          val toks = o.text.split(" ")
          (0 until math.max(1, toks.length / 20)).foreach(_ =>
            toks(rnd.nextInt(toks.length)) = corpus.words(corpus.rank(rnd)))
          val e = o.emb.map(x => x + (rnd.nextGaussian() * 0.02).toFloat)
          val n = math.sqrt(e.map(x => x * x).sum).toFloat
          Doc(id, o.lang, o.source, toks.mkString(" "), e.map(_ / n))
        } else fresh(id)
      pool += d
      d
    }
    // the seed picks which documents form the base: ids are shuffled
    base = rnd.shuffle((0L until BaseDocs.toLong).toVector).map(fresh).sortBy(_.id)
    // phase A ingests against the base; phase B against a store seeded
    // from the base, so each draws duplicates from its own history
    val poolA = ArrayBuffer.from(base)
    deltaA = (BaseDocs until BaseDocs + DeltaDocs).map(i => delta(i.toLong, poolA))
    val poolB = ArrayBuffer.from(base)
    batches = (0 until MaxBatches).map { b =>
      val first = BaseDocs + DeltaDocs + b * BatchDocs
      (first until first + BatchDocs).map(i => delta(i.toLong, poolB))
    }
    exactDups = dups.result()
    dir = ctx.dir("curation/input")
    docsFrame(base ++ deltaA).write.mode("overwrite").parquet(dir.resolve("documents").toString)
    embFrame(base ++ deltaA ++ batches.flatten).write.mode("overwrite").parquet(dir.resolve("embeddings").toString)
    trained = Similarity.kmeansCentroids(emb, k = Curation.IndexK,
      iters = Curation.IndexIters, roundTo = Curation.IndexRound)
  }

  private def docs = ctx.spark.read.parquet(dir.resolve("documents").toString)
  private def emb = ctx.spark.read.parquet(dir.resolve("embeddings").toString)

  /** Phase A, then `seconds` of phase B (at least one compaction and the
    * batch after it). Checks count into `r`; the numbers are layer metrics.
    */
  def measure(seconds: Double, tracer: Tracer, r: Result): Unit = {
    prepare()

    // phase A: one incremental ingest
    val a0 = System.nanoTime()
    val manifest = tracer.span("queries.curation.ingest") {
      Curation.incrementalIngest(ctx.spark, docs, emb, col("doc_id") >= BaseDocs.toLong)
        .select("doc_id", "n_tok", "start_tok").collect()
    }
    val batchS = (System.nanoTime() - a0) / 1e9
    Dedup.clearSignatureCaches(blocking = true)
    // the base documents the store chain keeps: the batch curation of the
    // base alone (its mix and budget stages can only drop more, so every
    // document it keeps is in the store)
    val survivors = Curation.pipeline(ctx.spark, docs.filter(col("doc_id") < BaseDocs.toLong), emb)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.clearSignatureCaches(blocking = true)
    r.attempted += deltaA.size
    // a duplicate of a surviving base document, or of one in the same
    // delta, is dropped
    checkAccepted("phase A", manifest.map(_.getLong(0)), deltaA.map(_.id).toSet, r,
      mustDrop = (_, orig) => orig >= BaseDocs || survivors.contains(orig))
    r.fail(breaks(manifest.map(m => (m.getLong(1), m.getLong(2)))),
      "phase A: pack offsets are not contiguous")

    // phase B: seed a store, then closed-loop micro-batches
    val storeDir = ctx.dir("curation/store").toString
    val sp = ctx.spark
    val cl = Curation.clean(sp.read.parquet(dir.resolve("documents").toString)
      .filter(col("doc_id") < BaseDocs.toLong))
    val bucket = pmod(pmod(col("doc_id"), lit(1000000000L)) * 2654435761L, lit(100L))
    CurationStream.initStore(cl.filter(bucket < 80L), storeDir)
    val holdout = cl.filter(bucket >= 80L)
    implicit val sqlCtx: SQLContext = sp.sqlContext
    import sp.implicits._
    val in = MemoryStream[(Long, String, String, Long, String)]
    val q = CurationStream.ingestStream(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars", "text"),
      emb, trained, holdout, storeDir, ctx.dir("curation/checkpoint").toString)
    val walls = ArrayBuffer.empty[Double]
    val compactS = ArrayBuffer.empty[Double]
    val afterCompact = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    try {
      // `seconds` of batches, and at least one compaction and the batch
      // after it
      while (walls.size <= CompactEvery || (System.nanoTime() - t0) / 1e9 < seconds) {
        val b = walls.size
        require(b < MaxBatches, s"more than $MaxBatches batches in $seconds s")
        val b0 = System.nanoTime()
        in.addData(batches(b).map(d => (d.id, d.lang, d.source, d.text.length.toLong, d.text)): _*)
        q.processAllAvailable()
        walls += (System.nanoTime() - b0) / 1e9
        if (b > 0 && b % CompactEvery == 0) afterCompact += walls.last
        if ((b + 1) % CompactEvery == 0) {
          val c0 = System.nanoTime()
          tracer.span("streaming.curation.compact")(CurationStream.compactStore(sp, storeDir))
          compactS += (System.nanoTime() - c0) / 1e9
        }
      }
    } finally {
      q.stop()
      q.awaitTermination()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val n = walls.size
    val sent = batches.take(n).flatten
    val store = CurationStream.readStore(sp, storeDir)
    val rows = store.select("doc_id", "ingest_batch").collect()
    val accepted = rows.filter(_.getLong(1) >= 0).map(_.getLong(0))
    r.attempted += sent.size
    // a duplicate of a document the store held, or of one in its own
    // batch, is dropped; one of an earlier batch's rejected document may
    // be accepted (the store, not the rejected document, is the dedup
    // authority)
    val stored = rows.map(_.getLong(0)).toSet
    def batchOf(id: Long) = (id - BaseDocs - DeltaDocs) / BatchDocs
    checkAccepted("phase B", accepted, sent.map(_.id).toSet, r, mustDrop = (dup, orig) =>
      orig < BaseDocs || stored.contains(orig) || batchOf(orig) == batchOf(dup))
    r.fail(rows.length - rows.map(_.getLong(0)).distinct.length,
      "phase B: a doc_id is in the store twice")
    val view = CurationStream.manifestView(store).select("n_tok", "start_tok").collect()
    r.fail(breaks(view.map(m => (m.getLong(0), m.getLong(1)))),
      "phase B: manifest pack offsets are not contiguous")

    val throughput = sent.size / elapsed
    // every document of a batch waits for the whole batch
    val perDoc = walls.toSeq.map(w => (w * 1000.0, BatchDocs.toLong))
    val sc = "streaming.curation"
    r.layer(s"$sc.throughput_per_s") = (throughput, "items/s")
    r.layer(s"$sc.latency_p50_ms") = (Stats.weightedPercentile(perDoc, 0.5).value.get, "ms")
    val inputBytes = (base ++ sent).map(_.text.length.toLong).sum
    r.layer(s"$sc.stored_bytes_per_input_byte") =
      (Dirs.bytes(java.nio.file.Paths.get(storeDir)).toDouble / inputBytes, "ratio")
    val mustDropA = deltaA.count(d => exactDups.get(d.id).exists(o => o >= BaseDocs || survivors.contains(o)))
    println(f"curation: phase A $batchS%.3f s, ${manifest.length} of ${deltaA.size} accepted " +
      f"(${survivors.size} of $BaseDocs base documents survive, $mustDropA exact duplicates must drop); " +
      f"phase B $n batches of $BatchDocs docs, median ${Stats.median(walls.toSeq)}%.3f s, " +
      f"${accepted.length} of ${sent.size} accepted, ${compactS.size} compactions; " +
      s"batch walls ${walls.map(w => f"$w%.2f").mkString(" ")}")

    tracer.settle()
    val ci = tracer.totals("queries.curation.ingest")
    val qi = "queries.curation.ingest"
    r.layer(s"$qi.wall_s") = (tracer.wallS(qi), "s")
    r.layer(s"$qi.jobs") = (ci.jobs.toDouble, "count")
    r.layer(s"$qi.stages") = (ci.stages.toDouble, "count")
    r.layer(s"$qi.tasks") = (ci.tasks.toDouble, "count")
    r.layer(s"$qi.task_s") = (ci.taskS, "s")
    r.layer(s"$qi.driver_s") = (tracer.driverS(qi), "s")
    r.layer(s"$qi.shuffle_write_mb") = (ci.shuffleWrite / 1048576.0, "MB")
    r.layer(s"$qi.spill_mb") = (ci.spill / 1048576.0, "MB")
    r.layer(s"$qi.max_concurrent_jobs") = (ci.maxRunning.toDouble, "count")
    val progress = ctx.progress.of(q.runId).filter(_.numInputRows > 0)
    val perBatch = tracer.ledger.get.batches(q.runId.toString)
    val accs = progress.map(p => (p, perBatch.getOrElse(p.batchId, new Acc)))
    def p50(xs: Seq[Double]) = Stats.p50OrMedian(xs)
    r.layer(s"$sc.batches") = (n.toDouble, "count")
    r.layer(s"$sc.jobs_per_batch_p50") = (p50(accs.map(_._2.jobs.toDouble)), "count")
    r.layer(s"$sc.stages_per_batch_p50") = (p50(accs.map(_._2.stages.toDouble)), "count")
    r.layer(s"$sc.task_s_per_batch_p50") = (p50(accs.map(_._2.taskS)), "s")
    r.layer(s"$sc.driver_s_per_batch_p50") = (p50(accs.map { case (p, a) =>
      math.max(0.0, p.durationMs.get("triggerExecution") / 1000.0 - a.busyMs / 1000.0)
    }), "s")
    r.layer(s"$sc.shuffle_mb_per_batch_p50") =
      (p50(accs.map(a => (a._2.shuffleWrite + a._2.shuffleRead) / 1048576.0)), "MB")
    r.layer(s"$sc.docs_in") = (sent.size.toDouble, "count")
    r.layer(s"$sc.accepted_frac") =
      (Stats.Ratio(accepted.length, sent.size).value.getOrElse(0.0), "ratio")
    val comp = tracer.totals("streaming.curation.compact")
    r.layer(s"$sc.compact_s") =
      (if (compactS.isEmpty) 0.0 else Stats.median(compactS.toSeq), "s")
    r.layer(s"$sc.compact_rewrite_mb") =
      (if (compactS.isEmpty) 0.0 else comp.written / 1048576.0 / compactS.size, "MB")
    r.layer(s"$sc.post_compact_batch_ms") =
      (if (afterCompact.isEmpty) 0.0 else Stats.median(afterCompact.toSeq) * 1000.0, "ms")
    r.layer(s"$sc.store_files_end") =
      (Dirs.dataFiles(java.nio.file.Paths.get(storeDir)).toDouble, "count")
    r.layer(s"$sc.persistent_rdds_end") =
      (sp.sparkContext.getPersistentRDDs.size.toDouble, "count")
    r.layer(s"$sc.dedup_cached_tables_end") =
      (Dedup.registeredSignatureCacheCount.toDouble, "count")
    Dedup.clearSignatureCaches(blocking = true)
  }

  /** Accepted ids must be unique, drawn from the submitted ones, and
    * hold no exact duplicate whose original `mustDrop` names.
    */
  private def checkAccepted(phase: String, ids: Seq[Long], submitted: Set[Long],
      r: Result, mustDrop: (Long, Long) => Boolean): Unit = {
    r.fail(ids.length - ids.distinct.length, s"$phase: a doc_id was accepted twice")
    r.fail(ids.count(!submitted.contains(_)).toLong, s"$phase: accepted an id never submitted")
    val leaked = ids.filter(i => exactDups.get(i).exists(mustDrop(i, _)))
    r.fail(leaked.size.toLong, s"$phase: accepted exact duplicates " +
      leaked.map(i => s"$i (copy of ${exactDups(i)})").mkString(", "))
  }

  /** Pack offsets (n_tok, start_tok) that do not start where the
    * previous document ended, in start order.
    */
  private def breaks(rows: Seq[(Long, Long)]): Long =
    rows.sortBy(_._2).sliding(2).count {
      case Seq((n0, s0), (_, s1)) => s1 != s0 + n0
      case _ => false
    }.toLong
}

object CurationBench {
  /** One generated document: id, lang, source, text, embedding. */
  final case class Doc(id: Long, lang: String, source: String,
      text: String, emb: Array[Float])

  val BaseDocs = 500
  val DeltaDocs = 100
  val BatchDocs = 250
  val MaxBatches = 40
  val CompactEvery = 5
  val ExactDupShare = 0.05
  val NearDupShare = 0.05
  val Vocabulary = 3000
  val Dim = 64
  val Langs = Array("en", "es", "fr", "de", "zh")

  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
}
