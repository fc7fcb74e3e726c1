package graft.jobs

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

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
  *  - one cached parquet footer + the term-matching pages per touched
  *    file: the pushed `term = …` predicate prunes row groups via
  *    min/max stats and pages via the column index. The export sorts
  *    rows by (term, doc_id) within files, which makes that pruning
  *    tight (a term's postings are a few contiguous pages, not the
  *    bucket) but is never relied on for correctness;
  *  - one column-reader kernel ([[readColumns]]) over the surviving
  *    row range: it scans the `term` column once, selecting the rows
  *    whose term is in the query, then reads `doc_id`, `dl` and `tf`
  *    only up to the last selected row, skipping the values between —
  *    no record assembly and no per-row filter over the other columns.
  *    The meta row and the per-bucket df maps load through the same
  *    kernel;
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

  // ColumnReadStoreImpl builds its readers from a converter tree; the
  // kernel reads values straight from the column readers and never
  // calls a converter, so one no-op leaf serves every column
  private object NoConverter extends GroupConverter {
    private val leaf = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = leaf
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** One row group's selected rows, read a column at a time: `rows` are
    * the selected positions within the group's (filtered) row range,
    * ascending, and `keys(i)` is the index into the kernel's term list
    * of the term row `rows(i)` holds (0 when no term filter applies).
    * Each column can be read once per group (its pages are consumed).
    */
  private final class Selected(store: ColumnReadStoreImpl,
      schema: MessageType, val rows: Array[Int], val keys: Array[Int]) {

    /** `name`'s values at the selected rows, NULL as null; the reader
      * stops at the last selected row and `skip()`s the values between.
      */
    private def read[T <: AnyRef: ClassTag](name: String)
        (get: ColumnReader => T): Array[T] = {
      val desc = schema.getColumnDescription(Array(name))
      val r = store.getColumnReader(desc)
      val maxDef = desc.getMaxDefinitionLevel
      val out = new Array[T](rows.length)
      var row = 0
      var i = 0
      while (i < rows.length) {
        val defined = r.getCurrentDefinitionLevel == maxDef
        if (row == rows(i)) {
          if (defined) out(i) = get(r)
          i += 1
        } else if (defined) r.skip()
        row += 1
        if (i < rows.length) r.consume()
      }
      out
    }

    /** An INT64 or INT32 column, widened to long. */
    def longs(name: String): Array[java.lang.Long] = {
      val int32 = schema.getColumnDescription(Array(name)).getPrimitiveType
        .getPrimitiveTypeName == PrimitiveTypeName.INT32
      read(name)(r => java.lang.Long.valueOf(
        if (int32) r.getInteger.toLong else r.getLong))
    }

    def strings(name: String): Array[String] =
      read(name)(_.getBinary.toStringUsingUTF8)
  }

  /** The lookup kernel: read `file` column by column against the CACHED
    * footer, calling `f` once per row group that has selected rows.
    * With `terms`, the pushed `term IN (terms)` predicate prunes row
    * groups by their stats (in the reader's constructor) and pages by
    * the column index (in `readNextFilteredRowGroup`); the kernel then
    * scans the `term` column once over the remaining row range and
    * selects the rows whose value is in `terms` — no record assembly,
    * no per-row filter evaluation over the other columns. Without
    * `terms` every row is selected. Selection never assumes the
    * export's (term, doc_id) sort: that sort only makes the pruning
    * tight.
    */
  private def readColumns(file: Path, terms: Option[IndexedSeq[String]])
      (f: Selected => Unit): Unit = {
    val footer = footers.get(file)(p =>
      ParquetFileReader.readFooter(HadoopInputFile.fromPath(p, conf),
        ParquetMetadataConverter.NO_FILTER))
    val builder = HadoopReadOptions.builder(conf, file)
    terms.foreach(ts => builder.withRecordFilter(FilterCompat.get(termPred(ts))))
    // term -> its index in `terms`, the key a selected row carries
    val keyOf = new java.util.HashMap[Binary, Integer]
    terms.foreach(_.zipWithIndex.foreach { case (t, i) =>
      keyOf.put(Binary.fromString(t), i) })
    val reader = new ParquetFileReader(conf, file, footer, builder.build())
    try {
      val meta = footer.getFileMetaData
      val schema = meta.getSchema
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val n = Math.toIntExact(pages.getRowCount)
        if (n > 0) {
          val store = new ColumnReadStoreImpl(pages, NoConverter, schema,
            meta.getCreatedBy)
          val sel = terms.fold(new Selected(store, schema,
            Array.range(0, n), new Array[Int](n)))(_ =>
            matchTerms(store, schema, n, keyOf))
          if (sel.rows.nonEmpty) f(sel)
        }
        pages = reader.readNextFilteredRowGroup()
      }
    } finally reader.close()
  }

  /** One scan of the `term` column over a group's `n` rows: the rows
    * whose term is a key of `keyOf`, with that key's value.
    */
  private def matchTerms(store: ColumnReadStoreImpl, schema: MessageType,
      n: Int, keyOf: java.util.HashMap[Binary, Integer]): Selected = {
    val desc = schema.getColumnDescription(Array("term"))
    val r = store.getColumnReader(desc)
    val maxDef = desc.getMaxDefinitionLevel
    val rows = new ArrayBuilder.ofInt
    val keys = new ArrayBuilder.ofInt
    var row = 0
    while (row < n) {
      if (r.getCurrentDefinitionLevel == maxDef) {
        val k = keyOf.get(r.getBinary)
        if (k != null) { rows += row; keys += k }
      }
      row += 1
      if (row < n) r.consume()
    }
    new Selected(store, schema, rows.result(), keys.result())
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
      val meta = metaFiles.flatMap { f =>
        val rows = ArrayBuffer.empty[(Long, Long, Int)]
        readColumns(f, None) { s =>
          val n = s.longs("n")
          val sumDl = s.longs("sum_dl")
          val nBuckets = s.longs("n_buckets")
          s.rows.indices.foreach { i =>
            rows += ((n(i), Option(sumDl(i)).fold(0L)(_.longValue()),
              nBuckets(i).intValue()))
          }
        }
        rows
      }.head
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
          readColumns(f, None) { s =>
            val terms = s.strings("term")
            val df = s.longs("df")
            s.rows.indices.foreach(i => m.put(terms(i), df(i)))
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
        val ts = bucketTerms.toIndexedSeq
        val df = dfs(bucket)
        epochFiles(l, "postings", Seq(bucket)).foreach { f =>
          readColumns(f, Some(ts)) { s =>
            val docId = s.longs("doc_id")
            val dl = s.longs("dl")
            val tf = s.longs("tf")
            s.rows.indices.foreach { i =>
              postings += ((docId(i), dl(i).longValue(), tf(i).longValue(),
                df.get(ts(s.keys(i)))))
            }
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
