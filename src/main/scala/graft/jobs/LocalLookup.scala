package graft.jobs

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary

import graft.ext.Retrieval

/** The point-lookup tier WITHOUT Spark: serve BM25 queries by reading
  * the [[IndexExport]] layout directly through parquet-hadoop — no
  * SparkSession, no job scheduling, no shuffle. This is the "a
  * non-Spark reader serves the same bytes at file-seek latency" claim
  * from SCALE.md made executable: the `IndexExport` layout was designed
  * so a KV-style reader only ever touches the query's own buckets, and
  * this object IS that reader.
  *
  * What a lookup costs (and why it is O(query), not O(index)):
  *  - bucket choice is driver arithmetic ([[IndexExport.termBucket]]) —
  *    zero I/O;
  *  - one parquet footer + the term-matching pages per touched file:
  *    the export sorts rows by (term, doc_id) within files, so the
  *    pushed `term = …` predicate prunes row groups via min/max stats
  *    and pages via the column index — a term's postings are a few
  *    contiguous pages, not the bucket;
  *  - scoring is driver arithmetic over the matched rows
  *    ([[Retrieval.scoreSingleLocal]] — the SAME expression tree the
  *    Spark plan evaluates, shared at the source level so parity is by
  *    construction, pinned by LocalLookupSpec and by perfbench
  *    bm25_serve's `jobs.lookup.wrong_answers`).
  *
  * Epoch contract: every function here works on ONE [[Bm25Layout]],
  * loaded by [[bm25Layout]] inside the caller's
  * [[IndexExport.withPinnedEpoch]] — [[IndexExport.bm25LookupSingle]]
  * and [[IndexExport.bm25Lookup]] take one pin per lookup, load the
  * layout once, and serve both tiers (these driver functions and the
  * distributed fallback, which reads the same per-bucket file lists
  * through [[epochFiles]]) from it. There is no other reader cache.
  *
  * At 100 TB this is the serving split: the batch engine maintains the
  * export (a scannable table); point traffic hits this reader (or any
  * parquet-capable KV layer) and never pays a cluster round-trip. The
  * per-epoch caches below play the role of a server process's open
  * index: meta, listings, df maps and footers resolved once per
  * immutable epoch directory, queries only read pages.
  */
object LocalLookup {

  /** One epoch's serving state: the epoch directory, its meta row and
    * the caches filled as lookups touch its buckets.
    */
  private[jobs] final case class Bm25Layout(fs: FileSystem, dir: String,
      n: Long, sumDl: Long, nBuckets: Int,
      files: ConcurrentHashMap[String, Seq[Path]],
      // per-bucket df maps, loaded whole on first touch: the df table
      // is dictionary-sized (one row per distinct term), which is
      // exactly what a serving process keeps resident — after warmup a
      // query only opens its postings buckets
      dfCache: ConcurrentHashMap[Long, java.util.HashMap[String, Long]])

  // keyed by resolved EPOCH directory (immutable once written — see
  // IndexExport's pointer protocol), LRU-bounded so a process cycling
  // exports does not retain one layout per dead epoch forever
  private val bm25Layouts = new Lru[String, Bm25Layout](32)
  private val conf = {
    val c = new Configuration()
    // serving reads: skip the checksum-wrapper filesystem for local
    // paths (the .crc side files are a writer-integrity feature; a
    // read-mostly serving tier verifies at rest, not per lookup)
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c
  }

  // parquet footers, resolved once per file (a serving process keeps
  // them resident — re-parsing the thrift footer dominated the cold
  // per-open cost); LRU-bounded across epochs/layouts
  private val footers = new Lru[Path, ParquetMetadata](4096)

  /** Drop cached layouts (tests). Re-exports invalidate their own
    * pruned epochs via [[invalidateEpoch]]; this remains for harness
    * cleanup between corpora.
    */
  def clearLayouts(): Unit = { bm25Layouts.clear(); footers.clear() }

  /** Invalidate every cached artifact under a pruned epoch directory —
    * called by [[IndexExport]] when an export deletes old epochs, so a
    * stale layout can never serve a missing-file read.
    */
  private[jobs] def invalidateEpoch(epochDir: String): Unit = {
    bm25Layouts.removeIf(_ == epochDir)
    // directory-boundary match: a bare prefix would also evict epoch_10's
    // footers when epoch_1 is pruned (spurious re-parses on the live epoch)
    footers.removeIf(_.toString.startsWith(epochDir + java.io.File.separator))
  }

  /** Data files under `dir`, excluding `_SUCCESS`/hidden/checksum
    * siblings; empty when the directory does not exist (an empty
    * corpus's export writes no partition directories at all).
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath).sortBy(_.getName)

  /** Read every row of `file` matching `pred` (or all rows when None)
    * into `row`-mapped values, against the CACHED footer. Row-group
    * stats filtering happens in the reader's constructor
    * (`filterRowGroups` over the footer blocks), dictionary and
    * column-index page filtering inside `readNextFilteredRowGroup`,
    * record-level filtering in the record reader — the export's
    * within-file sort is what makes the stats/page pruning tight.
    */
  private def readGroups[T](file: Path, pred: Option[FilterPredicate])
      (row: Group => T): Seq[T] = {
    val footer = footers.get(file)(f =>
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(f, conf),
        ParquetMetadataConverter.NO_FILTER))
    val opts = pred match {
      case Some(p) => HadoopReadOptions.builder(conf, file)
        .withRecordFilter(FilterCompat.get(p)).build()
      case None => HadoopReadOptions.builder(conf, file).build()
    }
    val reader = new ParquetFileReader(conf, file, footer, opts)
    try {
      val schema = footer.getFileMetaData.getSchema
      val colIO = new ColumnIOFactory().getColumnIO(schema)
      val out = ArrayBuffer.empty[T]
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val materializer = new GroupRecordConverter(schema)
        val rr = pred.fold(colIO.getRecordReader(pages, materializer))(p =>
          colIO.getRecordReader(pages, materializer, FilterCompat.get(p)))
        val n = pages.getRowCount
        var i = 0L
        while (i < n) {
          val g = rr.read()
          if (g != null && !rr.shouldSkipCurrentRecord) out += row(g)
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
      out.toSeq
    } finally reader.close()
  }

  private def termPred(terms: Seq[String]): FilterPredicate =
    terms.map(t => FilterApi.eq(FilterApi.binaryColumn("term"),
      Binary.fromString(t)): FilterPredicate).reduce(FilterApi.or)

  /** The serving layout of the epoch directory `epochDir`, loaded once
    * per epoch. Call it inside the [[IndexExport.withPinnedEpoch]] that
    * pinned `epochDir`: the pin is what keeps the files it lists alive.
    */
  private[jobs] def bm25Layout(epochDir: String): Bm25Layout =
    bm25Layouts.get(epochDir) { dir =>
      val fs = new Path(dir).getFileSystem(conf)
      val metaFiles = dataFiles(fs, new Path(dir, "meta"))
      require(metaFiles.nonEmpty, s"no meta file under $dir/meta")
      // one row: (n: long, sum_dl: nullable long, n_buckets: int) —
      // but the writer may emit empty sibling part files, so scan all
      val meta = metaFiles.flatMap(readGroups(_, None) { g =>
        val sumDl = if (g.getFieldRepetitionCount("sum_dl") == 0) 0L
          else g.getLong("sum_dl", 0)
        (g.getLong("n", 0), sumDl, g.getInteger("n_buckets", 0))
      }).head
      Bm25Layout(fs, dir, meta._1, meta._2, meta._3,
        new ConcurrentHashMap, new ConcurrentHashMap)
    }

  /** The data files of `table` (`postings` or `df`) in `buckets`, from
    * the layout's per-bucket listing: every file either tier reads comes
    * through here. The mixed-epoch fence: a file outside the layout's
    * epoch directory fails the lookup, naming both epochs, instead of
    * serving a torn answer.
    */
  private[jobs] def epochFiles(l: Bm25Layout, table: String,
      buckets: Iterable[Long]): Seq[Path] = {
    val files = buckets.toSeq.flatMap(b => l.files.computeIfAbsent(
      s"$table/$b", _ => dataFiles(l.fs, new Path(l.dir, s"$table/bucket=$b"))))
    files.find(!_.toString.startsWith(l.dir + "/")).foreach { f =>
      throw new IllegalStateException(s"mixed-epoch read: the lookup " +
        s"pinned ${l.dir} but its $table file $f lies under " +
        s"${f.getParent.getParent.getParent}")
    }
    files
  }

  /** A query's matched posting rows (doc_id, dl, tf, df) read straight
    * from the export layout — the shared fetch behind [[bm25Single]]
    * and [[bm25Batch]]. Returns None when the terms' summed df (known
    * from the resident df maps BEFORE any postings file is opened)
    * exceeds `maxPostings` — the cap that keeps the driver-local tier
    * delta-sized like every other driver-resident form; None callers
    * fall back to the distributed plan.
    */
  private def matchedPostings(l: Bm25Layout, ts: Seq[String],
      maxPostings: Long):
      Option[ArrayBuffer[(java.lang.Long, Long, Long, Long)]] = {
    val byBucket = ts.groupBy(IndexExport.termBucket(_, l.nBuckets))
    // df from the resident per-bucket maps — loaded (dictionary-sized)
    // before any postings page is touched, so the cap decision costs
    // no posting I/O
    val dfs = byBucket.map { case (bucket, _) =>
      bucket -> l.dfCache.computeIfAbsent(bucket, { b =>
        val m = new java.util.HashMap[String, Long]
        epochFiles(l, "df", Seq(b)).foreach { f =>
          readGroups(f, None) { g =>
            m.put(g.getBinary("term", 0).toStringUsingUTF8,
              g.getLong("df", 0))
          }
        }
        m
      })
    }
    val totalDf = byBucket.iterator.flatMap { case (bucket, bucketTerms) =>
      bucketTerms.iterator.map(t =>
        Option(dfs(bucket).get(t)).map(_.longValue()).getOrElse(0L))
    }.sum
    if (totalDf > maxPostings) None
    else {
      val postings = ArrayBuffer.empty[(java.lang.Long, Long, Long, Long)]
      byBucket.foreach { case (bucket, bucketTerms) =>
        val pred = Some(termPred(bucketTerms))
        val df = dfs(bucket)
        epochFiles(l, "postings", Seq(bucket)).foreach { f =>
          readGroups(f, pred) { g =>
            val docId: java.lang.Long =
              if (g.getFieldRepetitionCount("doc_id") == 0) null
              else java.lang.Long.valueOf(g.getLong("doc_id", 0))
            val term = g.getBinary("term", 0).toStringUsingUTF8
            postings += ((docId, g.getLong("dl", 0), g.getLong("tf", 0),
              df.get(term)))
          }
        }
      }
      Some(postings)
    }
  }

  /** Single-query BM25 over one epoch's layout — rows (doc_id, n_terms,
    * score) identical to [[IndexExport.bm25SinglePlan]] over the same
    * layout (and therefore to every other bm25 path; q121's
    * shared-oracle chain). Pays no Spark job. None when the query's
    * matched postings would exceed `maxPostings` (the caller runs the
    * distributed plan instead).
    */
  private[jobs] def bm25Single(l: Bm25Layout, terms: Seq[String], k: Int,
      maxPostings: Long): Option[Seq[(java.lang.Long, Long, Double)]] = {
    val ts = terms.filter(_ != null).distinct
    if (ts.isEmpty || l.n == 0) Some(Seq.empty)
    else matchedPostings(l, ts, maxPostings)
      .map(Retrieval.scoreSingleLocal(_, l.n, l.sumDl, k))
  }

  /** Driver-side twin of the BATCH lookup shape
    * ([[IndexExport.bm25LookupPlan]] → [[Retrieval.bm25TopKIndexed]]):
    * rows (query_id, rank, doc_id, score) per query, identical to the
    * Spark plan by shared arithmetic —
    *  - per-(doc, term) s4 partials and the per-doc score are
    *    [[Retrieval.scoreSingleLocal]]'s expressions (bit-parity pinned
    *    there term by term);
    *  - the top-k order mirrors [[graft.ext.TopKByScore]]: score desc
    *    (java.lang.Double.compare), doc_id asc; rank = 1-based position;
    *  - repeated terms within a query score once and rows sharing a
    *    query_id merge (the qterms DISTINCT), NULL terms never match,
    *    a query with no matches emits no rows.
    * None when any query's matched postings exceed `maxPostings`, or a
    * matched posting carries a NULL doc_id (the batch udaf path boxes
    * doc_id through a primitive-long tuple encoder; rather than mirror
    * that coercion, the twin declines and the Spark plan serves it).
    */
  private[jobs] def bm25Batch(l: Bm25Layout, queries: Seq[(Long, Seq[String])],
      k: Int, maxPostings: Long): Option[Seq[(Long, Long, Long, Double)]] = {
    val byQuery = queries.groupMapReduce(_._1)(_._2)(_ ++ _)
      .view.mapValues(_.filter(_ != null).distinct).toSeq.sortBy(_._1)
    val out = Seq.newBuilder[(Long, Long, Long, Double)]
    val ok = byQuery.forall { case (qid, ts) =>
      if (ts.isEmpty || l.n == 0) true
      else matchedPostings(l, ts, maxPostings) match {
        case None => false
        case Some(postings) if postings.exists(_._1 == null) => false
        case Some(postings) =>
          val scored = Retrieval
            .scoreSingleLocal(postings, l.n, l.sumDl, k)
          scored.iterator.zipWithIndex.foreach { case ((d, _, sc), i) =>
            out += ((qid, (i + 1).toLong, d.longValue(), sc))
          }
          true
      }
    }
    if (ok) Some(out.result()) else None
  }
}
