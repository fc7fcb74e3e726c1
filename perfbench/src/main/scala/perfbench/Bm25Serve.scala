package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.ext.Retrieval
import graft.jobs.IndexExport

/** `bm25_serve`: point lookups against the exported BM25 serving layout
  * while it is re-exported underneath them.
  *
  * Set-up builds a seeded Zipf-vocabulary corpus in two versions (A, and
  * B with a share of its documents rewritten), runs `bm25Index` on both
  * and `exportBm25` of A. The run is a closed loop of [[Clients]] client
  * threads issuing `bm25LookupSingle`; one lookup in [[BroadEvery]] is a
  * broad query, matching more postings than the default `LocalLookupCap`,
  * which takes the distributed fallback. One background thread re-exports every
  * [[ExportEveryMs]], alternating B and A. Every answer must equal the
  * driver-side reference answer of version A or of version B. The traced
  * run also measures the curation code ([[CurationBench]]) for its layers.
  */
final class Bm25Serve(ctx: Ctx) extends Workload {
  import Bm25Serve._

  private var outDir: String = _
  private var idx: Array[Retrieval.Bm25Index] = _
  private var versions: Array[Seq[(Long, String)]] = _
  /** Reference answers, built on first use (outside any timing). */
  private lazy val ref: Array[Reference] = versions.map(new Reference(_))
  private var narrow: IndexedSeq[Seq[String]] = _
  private var broad: IndexedSeq[Seq[String]] = _
  private var textBytes = 0L
  private val indexS = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def frame(docs: Seq[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
      docs.map { case (id, t) => Row(id, t) }: _*), DocSchema)

  def setup(rep: Int): Unit = {
    val corpus = new Corpus(Vocabulary)
    val rnd = new scala.util.Random(ctx.seed ^ 0xb25L)
    val a = (0 until Docs).map(i => (i.toLong, corpus.doc(rnd, 30 + rnd.nextInt(40))))
    val b = a.map { case (id, t) =>
      if (rnd.nextDouble() < RewriteShare) (id, corpus.doc(rnd, 30 + rnd.nextInt(40))) else (id, t)
    }
    textBytes = a.map(_._2.length.toLong).sum
    if (idx != null) idx.foreach(i => { i.postings.unpersist(); i.dfTable.unpersist() })
    val i0 = System.nanoTime()
    idx = Array(a, b).map(v => Retrieval.bm25Index(frame(v)))
    indexS += (System.nanoTime() - i0) / 1e9 / 2
    outDir = ctx.dir(s"bm25/index_$rep").toString
    IndexExport.exportBm25(idx(0), outDir)
    versions = Array(a, b)
    // narrow queries: 1-2 Zipf-drawn terms (their postings stay far
    // under the local cap); broad ones: the shortest prefixes of the
    // terms by falling df whose postings exceed it
    narrow = (0 until NarrowQueries).map(_ =>
      (0 to rnd.nextInt(2)).map(_ => corpus.words(corpus.rank(rnd))).distinct)
    val df = a.flatMap(_._2.split(" ").distinct).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val byDf = df.toSeq.sortBy { case (t, n) => (-n, t) }.map(_._1)
    val over = byDf.indices.find(i => byDf.take(i + 1).map(df).sum > IndexExport.LocalLookupCap)
      .getOrElse(throw new IllegalStateException("no query can exceed the local lookup cap"))
    broad = (0 until BroadQueries).map(i => byDf.take(over + 1 + i))
  }

  /** Lookups, and a re-export of each version. */
  def warmUp(): Unit = {
    (narrow.take(WarmLookups) ++ broad.take(1)).foreach(lookup)
    IndexExport.exportBm25(idx(1), outDir)
    IndexExport.exportBm25(idx(0), outDir)
  }

  private def lookup(q: Seq[String]): Seq[(Long, Long, Double)] =
    IndexExport.bm25LookupSingle(ctx.spark, outDir, q, K).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (d, _, s) => (-s, d) }

  def run(seconds: Double, tracer: Tracer, r: Result): Unit = {
    // reference answers first, so checking costs the clients nothing
    ref.foreach(v => (narrow ++ broad).foreach(v.answer(_, K)))
    val stop = new AtomicBoolean(false)
    val ops = new ConcurrentLinkedQueue[Op]()
    val exports = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var error: Throwable = null
    val clients = (0 until Clients).map { c =>
      val rnd = new scala.util.Random(ctx.seed * 31 + c)
      new Thread(() => {
        try {
          var n = 0L
          while (!stop.get) {
            // every BroadEvery-th lookup of a client is broad
            n += 1
            val isBroad = n % BroadEvery == BroadEvery / 2
            val q = if (isBroad) broad(rnd.nextInt(broad.size)) else narrow(rnd.nextInt(narrow.size))
            val t0 = System.nanoTime()
            val res = tracer.span("jobs.lookup")(scala.util.Try(lookup(q)))
            val t1 = System.nanoTime()
            val version = res.toOption.fold(-1) { got =>
              if (same(got, ref(0).answer(q, K))) 0
              else if (same(got, ref(1).answer(q, K))) 1 else -1
            }
            val epoch = if (tracer.enabled) IndexExport.resolveEpoch(outDir) else ""
            ops.add(Op(t0, t1, isBroad, version >= 0, version, epoch))
          }
        } catch { case t: Throwable => error = t }
      }, s"perfbench-bm25-client-$c")
    }
    val exporter = new Thread(() => {
      try {
        var v = 1
        var next = System.nanoTime() + ExportEveryMs * 1000000L
        while (!stop.get) {
          val wait = (next - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(math.min(wait, 20L))
          else {
            val e0 = System.nanoTime()
            tracer.span("jobs.index_export")(IndexExport.exportBm25(idx(v), outDir))
            exports.add((e0, System.nanoTime()))
            v = 1 - v
            next += ExportEveryMs * 1000000L
          }
        }
      } catch { case t: Throwable => error = t }
    }, "perfbench-bm25-exporter")
    val t0 = System.nanoTime()
    (clients :+ exporter).foreach(_.start())
    // the window lasts `seconds`, and longer only while fewer than
    // MinLookups have completed (the p99 needs them), or until the last
    // export published version A, so every run ends in the same state
    def elapsedS = (System.nanoTime() - t0) / 1e9
    while (error == null && (elapsedS < seconds || ops.size < MinLookups ||
        exports.size % 2 == 1) && elapsedS < 3 * seconds) Thread.sleep(20)
    stop.set(true)
    (clients :+ exporter).foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9
    if (error != null) throw error
    // leave version A published for the next run
    if (exports.size % 2 == 1) IndexExport.exportBm25(idx(0), outDir)

    val all = ops.asScala.toSeq
    val wrong = all.count(!_.ok).toLong
    r.attempted += all.size
    r.fail(wrong, s"$wrong of ${all.size} lookups threw or matched neither version's answer")
    def ms(o: Op) = if (o.ok) (o.t1 - o.t0) / 1e6 else Double.PositiveInfinity
    val lat = all.map(ms)
    val ex = exports.asScala.toSeq
    r.throughput = all.size / elapsed
    r.e2e("throughput_per_s") = (r.throughput, "items/s")
    r.e2e("latency_p50_ms") = (Stats.required(lat, 0.5), "ms")
    r.e2e("batch_s") = (Stats.median(ex.map { case (a, b) => (b - a) / 1e9 }), "s")
    val epochDir = java.nio.file.Paths.get(new java.net.URI(IndexExport.resolveEpoch(outDir)))
    r.e2e("stored_bytes_per_input_byte") = (Dirs.bytes(epochDir).toDouble / textBytes, "ratio")
    println(f"bm25_serve: ${all.size} lookups (${all.count(_.broad)} broad), p50 ${Stats.required(lat, 0.5)}%.3f ms, " +
      s"p99 ${Stats.percentile(lat, 0.99).value.fold("n/a")(v => f"$v%.3f")} ms; ${ex.size} exports; answers of A ${all.count(_.version == 0)}, " +
      s"of B ${all.count(_.version == 1)}, wrong $wrong")

    if (tracer.enabled) {
      tracer.settle()
      val spans = tracer.named("jobs.lookup")
      val ledger = tracer.ledger.get
      val jobs = spans.map(s => ledger.get(tracer.group(s.id)).jobs)
      val local = spans.zip(jobs).filter(_._2 == 0).map(_._1)
      val fallback = spans.zip(jobs).filter(_._2 > 0).map(_._1)
      def overlaps(o: Op) = ex.exists { case (a, b) => o.t0 < b && o.t1 > a }
      val (over, idle) = all.filter(_.ok).partition(overlaps)
      val lk = "jobs.lookup"
      r.layer(s"$lk.lookups") = (all.size.toDouble, "count")
      r.layer(s"$lk.latency_p99_ms") = (Stats.required(lat, 0.99), "ms")
      r.layer(s"$lk.local_frac") =
        (Stats.Ratio(local.size, spans.size).value.getOrElse(0.0), "ratio")
      r.layer(s"$lk.spark_jobs") = (jobs.sum.toDouble, "count")
      r.layer(s"$lk.local_p50_ms") = (Stats.p50OrMedian(local.map(_.wallS * 1000)), "ms")
      r.layer(s"$lk.fallback_p50_ms") = (Stats.p50OrMedian(fallback.map(_.wallS * 1000)), "ms")
      // p99 when the class has 1,000 lookups, else the highest
      // percentile its sample supports
      def tail(name: String, xs: Seq[Double]): Unit = {
        val t = Stats.highestSupported(xs)
        println(s"  $lk.$name: ${t.fold(s"n=${xs.size}, no percentile supported")(p =>
          f"p${p.p * 100}%.0f over ${p.n} lookups = ${p.value.get}%.3f ms")}")
        r.layer(s"$lk.$name") = (t.flatMap(_.value).getOrElse(0.0), "ms")
      }
      tail("overlap_p99_ms", over.map(ms))
      tail("idle_p99_ms", idle.map(ms))
      r.layer(s"$lk.epochs_seen") = (all.map(_.epoch).distinct.size.toDouble, "count")
      r.layer(s"$lk.wrong_answers") = (wrong.toDouble, "count")
      val ie = "jobs.index_export"
      val exp = tracer.named(ie)
      r.layer(s"$ie.export_s_p50") = (Stats.p50OrMedian(exp.map(_.wallS)), "s")
      // the export runs its jobs under a job group of its own
      r.layer(s"$ie.jobs_per_export") = (Stats.p50OrMedian(
        ledger.withPrefix("graft-bm25-export-").map(_.jobs.toDouble)), "count")
      r.layer(s"$ie.bytes") = (Dirs.bytes(epochDir).toDouble, "bytes")
      r.layer(s"$ie.files") = (Dirs.dataFiles(epochDir).toDouble, "count")
      r.layer("ext.retrieval.index_s") = (Stats.median(indexS.toSeq), "s")
      // the curation layers: measured here, after the serving window
      new CurationBench(ctx).measure(math.min(seconds, CurationSeconds), tracer, r)
    }
  }

  private def same(a: Seq[(Long, Long, Double)], b: Seq[(Long, Long, Double)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((d0, n0, s0), (d1, n1, s1)) =>
      d0 == d1 && n0 == n1 && math.abs(s0 - s1) < 1e-9
    }
}

object Bm25Serve {
  /** One lookup: its times, class, check outcome, the version whose
    * answer it matched (-1: neither) and, traced, the epoch after it.
    */
  final case class Op(t0: Long, t1: Long, broad: Boolean, ok: Boolean,
      version: Int, epoch: String)

  val Docs = 4000
  val Vocabulary = 5000
  /** Share of documents whose text version B rewrites. */
  val RewriteShare = 0.1
  val NarrowQueries = 2000
  /** Broad queries: the shortest prefix of the terms by falling df whose
    * postings exceed the default `LocalLookupCap`, and the next longer
    * prefixes.
    */
  val BroadQueries = 3
  /** One lookup in this many is broad (0.5%). */
  val BroadEvery = 200
  /** One client per core of a 4-core host beside the exporter. */
  val Clients = 3
  /** Re-export interval: a 24 s window holds 7 or more exports, enough
    * for a steady median export time. At 1.5 s the lookup figures
    * spread beyond their bounds (BASELINE.md).
    */
  val ExportEveryMs = 3000L
  val WarmLookups = 30
  /** Seconds of curation phase B in the traced run, at most: it keeps
    * the traced run within its time limit.
    */
  val CurationSeconds = 15.0
  /** Lookups a run completes at least: a p99 needs 1,000 samples. */
  val MinLookups = 1000
  val K = 10

  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** Driver-side BM25 over one corpus version, with the engine's
    * constants and its 4-decimal rounding of idf, of each term's share
    * and of the sum; top k by score, then doc id.
    */
  final class Reference(docs: Seq[(Long, String)]) {
    private val dl = new java.util.HashMap[Long, Long]()
    private val postings = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      dl.put(id, toks.length.toLong)
      toks.groupBy(identity).foreach { case (t, occ) =>
        postings.computeIfAbsent(t, _ => scala.collection.mutable.ArrayBuffer.empty) +=
          ((id, occ.length.toLong))
      }
    }
    val n: Long = docs.size.toLong
    private val avgdl = dl.values.asScala.map(_.toLong).sum.toDouble / n
    val df: Map[String, Long] = postings.asScala.map { case (t, ps) => t -> ps.size.toLong }.toMap
      .withDefaultValue(0L)
    private val cache = new java.util.concurrent.ConcurrentHashMap[Seq[String], Seq[(Long, Long, Double)]]()

    def answer(q: Seq[String], k: Int): Seq[(Long, Long, Double)] =
      cache.computeIfAbsent(q, _ => score(q, k))

    private def score(q: Seq[String], k: Int): Seq[(Long, Long, Double)] = {
      val perDoc = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
      q.distinct.foreach { t =>
        val ps = Option(postings.get(t)).getOrElse(scala.collection.mutable.ArrayBuffer.empty)
        val d = ps.size.toDouble
        val idf = StrictMath.log((n - d + 0.5) / (d + 0.5) + 1.0)
        val idfR = math.floor(idf * 10000L + 0.5).toLong.toDouble / 10000L
        ps.foreach { case (id, tf) =>
          val tfs = tf * Retrieval.K1Plus1 /
            (tf + Retrieval.K1 * ((1.0 - Retrieval.B) + Retrieval.B * dl.get(id) / avgdl))
          val s4 = math.floor(idfR * tfs * 10000 + 0.5).toLong
          val (c, s) = perDoc.getOrElse(id, (0L, 0L))
          perDoc(id) = (c + 1, s + s4)
        }
      }
      perDoc.toSeq.map { case (id, (c, s)) =>
        (id, c, math.floor(s / 10000.0 * 10000L + 0.5).toLong.toDouble / 10000L)
      }.sortBy { case (id, _, sc) => (-sc, id) }.take(k)
    }
  }
}
