package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, Multimodal, Pii, Similarity, TextStats}
import graft.queries.Num.{r => rnd}

/** Training-data pipeline queries (north-star ops): text analysis, dedup,
  * similarity search, multimodal plumbing — each mirrored by a DuckDB
  * oracle built from the SAME constants (hash params, marker lists,
  * polygon of thresholds) so arithmetic matches bit-for-bit.
  *
  * ORACLE INVARIANT — non-negative ids: the split/shard hashes here use
  * Spark `pmod` while the oracles use SQL `%`, which differ on NEGATIVE
  * dividends (pmod is non-negative; `%` follows the dividend's sign).
  * The driver schema guarantees doc_id/vec_id >= 0, so the two agree
  * everywhere these queries run; a corpus with negative ids would need
  * `((x % m) + m) % m` on the oracle side.
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  private val P = TextStats.P

  /** q63 sub-shard width (docs per packing shard): bounds the
    * flatMapGroups buffer regardless of language skew; shared verbatim
    * with the oracle CTE's PARTITION BY.
    */
  private val Q63_SHARD = 100L

  val queries: Map[String, Q] = Map(
    // Text quality / token statistics (narrow, codegen'd, no shuffle).
    "q17_doc_stats" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        Seq($"doc_id") ++ TextStats.statsColumns($"text"): _*)
    }),

    // Marker-based language ID vs the labeled lang column.
    "q18_lang_id" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id", $"lang",
        TextStats.langId(TextStats.tokens($"text")).as("lang_pred"))
    }),

    // Rolling-hash fingerprint + 16-bit SimHash signature.
    "q19_fingerprint" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        TextStats.fingerprint($"text").as("fingerprint"),
        Dedup.simhash16(Dedup.tokenSet($"text")).as("simhash16"))
    }),

    // Exact dedup: hash groupBy on text.
    "q20_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d))),

    // MinHash + LSH banding over 5-gram shingles + Jaccard verification.
    "q21_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), minJaccard = 0.7)),

    // Word-bigram Jaccard near-dup, blocked on a 2-permutation MinHash
    // AND-construction over the bigram set: a candidate pair must agree
    // on BOTH min-hash values, so collision probability is ~jaccard^2 —
    // similar pairs still collide, but a small shared vocabulary no
    // longer drags half the corpus into one bucket (the round-2 first-
    // bigram key flooded on shared prefixes; a single permutation
    // flooded on any low-hash common shingle). A window-count cap
    // (mirrored in the oracle) bounds the pair join even when a true
    // near-dup flood shares both minima.
    "q22_bigram_jaccard" -> ((s, d) =>
      Dedup.bigramJaccardPairs(Tables.documents(s, d), minJaccard = 0.1)),

    // Token counting, both ways the north-star list asks for: the
    // whitespace splitter AND a BPE-ish pretokenizer regex (GPT-2 style
    // contractions / letter-runs / digit-runs / punctuation-runs /
    // whitespace — lookahead dropped so RE2 replays it identically).
    "q61_token_families" -> ((s, d) => {
      import s.implicits._
      val bpe = "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
      Tables.documents(s, d).select(
        $"doc_id",
        size(TextStats.tokens($"text")).cast("long").as("n_ws_tokens"),
        regexp_count($"text", lit(bpe)).cast("long").as("n_bpe_tokens"),
        rnd(length($"text").cast("double") /
          nullif(regexp_count($"text", lit(bpe)), lit(0)).cast("double"), 4)
          .as("chars_per_bpe_token"))
    }),

    // Document chunking for training windows: overlapping token slices
    // (window 20 tokens, stride 15 -> 5-token overlap), the text analog
    // of q48's frame sampling. Declarative: starts via sequence(),
    // chunk text via slice + concat_ws — explode factor len/stride,
    // no shuffle, payload projected per chunk.
    "q62_doc_chunks" -> ((s, d) => {
      import s.implicits._
      val toks = TextStats.tokens($"text")
      Tables.documents(s, d)
        .select($"doc_id", toks.as("toks"))
        .filter(size($"toks") > 0)
        .select($"doc_id", $"toks",
          posexplode(sequence(lit(0), size($"toks") - 1, lit(15))).as(Seq("chunk_idx", "start")))
        .select(
          $"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
          concat_ws(" ", slice($"toks", $"start" + 1, lit(20))).as("chunk_text"),
          least(size($"toks") - $"start", lit(20)).cast("long").as("n_chunk_tokens"))
    }),

    // Greedy sequence packing: docs in doc_id order are packed first-fit
    // into bins of capacity 64 tokens (a doc longer than the capacity
    // gets its own bin), with the greedy recurrence scoped to a
    // (lang, doc_id DIV 100) SUB-SHARD. Packing is per-shard by
    // definition (a global greedy order would serialize the corpus) —
    // but `lang` alone is a handful of shards at 100 TB, so one group
    // would buffer ~corpus/5 rows in a single flatMapGroups task. The
    // doc_id-range sub-shard bounds every group at 100 docs no matter
    // how skewed the language mix is, and the oracle CTE restarts its
    // recurrence per sub-shard identically.
    "q63_sequence_packing" -> ((s, d) => {
      import s.implicits._
      val cap = 64L
      Tables.documents(s, d)
        .select($"lang", expr(s"doc_id DIV $Q63_SHARD").as("shard"),
          $"doc_id",
          coalesce(size(TextStats.tokens($"text")), lit(0))
            .cast("long").as("n_tok"))
        .as[(String, Long, Long, Long)]
        .groupByKey(t => (t._1, t._2))
        .flatMapGroups { (key, rows) =>
          val (lang, shard) = key
          // exact recurrence of the oracle CTE: first doc opens bin 0;
          // then (bin, fill+n) if it fits, else (bin+1, n). Buffer is
          // <= Q63_SHARD rows by construction of the sub-shard key.
          val docs = rows.toArray.sortBy(_._3)
          var bin = 0L
          var fill = 0L
          var first = true
          docs.iterator.map { case (_, _, docId, n) =>
            if (first) { fill = n; first = false }
            else if (fill + n <= cap) fill += n
            else { bin += 1; fill = n }
            (lang, shard, docId, n, bin)
          }
        }
        .toDF("lang", "shard", "doc_id", "n_tok", "bin")
        .groupBy($"lang", $"shard", $"bin")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("tok_sum"),
          min($"doc_id").as("first_doc"))
    }),

    // int8 embedding quantization: per-vector absmax scale, quantized
    // sum + max reconstruction error — the compression pass before an
    // ANN index ships. Narrow map, no shuffle; all arithmetic in
    // doubles with the cross-engine floor(x+0.5) rounding discipline.
    "q64_embedding_quantize" -> ((s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d).select($"vec_id", $"embedding",
        (array_max(transform($"embedding", x => abs(x))).cast("double") / 127.0)
          .as("scale"))
      def quant(x: org.apache.spark.sql.Column) =
        floor(x.cast("double") / $"scale" + 0.5)
      base.select(
        $"vec_id",
        rnd($"scale", 6).as("scale_r"),
        aggregate($"embedding", lit(0.0), (a, x) => a + quant(x))
          .cast("long").as("q_sum"),
        rnd(aggregate($"embedding", lit(0.0),
          (a, x) => greatest(a, abs(x.cast("double") - quant(x) * $"scale"))), 6)
          .as("max_err"))
    }),

    // Near-dup clusters: LSH pairs -> connected components (min-id
    // canonical representative) -> cluster sizes. The dedup endgame —
    // what a 100 TB pipeline actually executes after pair generation.
    "q65_dedup_components" -> ((s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashPairs(Tables.documents(s, d), minJaccard = 0.7)
        .select($"doc1".as("src"), $"doc2".as("dst"))
      graft.operators.Graph.connectedComponents(s, pairs)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // q65's clusters via ALTERNATING STAR CONTRACTION instead of
    // min-label propagation: O(log n) rounds vs O(diameter) — the
    // variant for long-chain graphs (lineage stitches), oracle-gated
    // against the same recursive-CTE min-label replay because the
    // (node -> component-min) contract is identical whatever the
    // algorithm. See Graph.connectedComponentsStar.
    "q100_components_star" -> ((s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashPairs(Tables.documents(s, d), minJaccard = 0.7)
        .select($"doc1".as("src"), $"doc2".as("dst"))
      graft.operators.Graph.connectedComponentsStar(s, pairs)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Incremental dedup: the q66-style 90/10 hash split plays "existing
    // corpus store" vs "incoming batch"; near-dup pairs are generated
    // ONLY across the boundary (batch × store) via the asymmetric
    // band-key join — the delta-ingestion path that never re-pairs the
    // corpus with itself. See Dedup.minhashPairsAgainst.
    "q76_incremental_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("bucket", pmod($"doc_id" * 2654435761L, lit(100L)))
      Dedup.minhashPairsAgainst(
        docs.filter($"bucket" < 90).drop("bucket"),
        docs.filter($"bucket" >= 90).drop("bucket"),
        minJaccard = 0.5)
    }),

    // Span-level dedup (the "dedup training data" span pass): token
    // positions covered by any 5-gram appearing in >= 3 DISTINCT docs
    // are masked out and the cleaned text re-emitted. Shape: one
    // ordered per-start gram table (ids + positions + 64-bit codes
    // only), doc-frequency of distinct (doc, gram), hot grams join back
    // to positions (uniform hash key; hot set is corpus-boilerplate-
    // sized, AQE-broadcastable), covered starts collect per doc
    // (bounded by tokens/doc), and an index-aware filter rebuilds the
    // text — no shuffle ever carries text except the final narrow map.
    "q75_span_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val codes = TextStats.tokenCodesOf($"text")
      // native gram kernel: position-preserving 5-gram codes with null
      // tails, one codegen'd loop (was a 4-deep zip_with chain)
      val grams = org.apache.spark.sql.graft.GraftColumns.gramCodes(codes, 5)
      // cached: hot-gram aggregation and the position join shuffle this
      // table on DIFFERENT keys (g vs g-then-doc), so exchange reuse
      // can't deduplicate the gram kernel — uncached it would run the
      // per-row chain over the corpus once per consumer
      val pos = Dedup.cached(
        docs.select($"doc_id", posexplode_outer(grams).as(Seq("p0", "g")))
          .filter($"g".isNotNull))
      val hot = pos.select($"doc_id", $"g").distinct()
        .groupBy($"g").agg(count(lit(1)).as("df"))
        .filter($"df" >= 3).select($"g")
      val hotStarts = pos.join(hot, "g")
        .groupBy($"doc_id").agg(collect_set($"p0").as("hot0"))
      docs.join(hotStarts, Seq("doc_id"), "left")
        .select($"doc_id", TextStats.tokens($"text").as("toks"),
          coalesce($"hot0", array().cast("array<int>")).as("hot0"))
        .select($"doc_id",
          size($"toks").cast("long").as("n_tokens"),
          filter($"toks", (t, i) =>
            !exists($"hot0", h => h <= i && i <= h + lit(4)))
            .as("kept"))
        .select($"doc_id", $"n_tokens",
          ($"n_tokens" - size($"kept")).cast("long").as("n_removed"),
          array_join($"kept", " ").as("clean_text"))
    }),

    // The dedup DROP LIST: every near-dup cluster keeps its min-id doc;
    // this emits (dropped doc, its keeper) — the actionable artifact a
    // pipeline anti-joins against the corpus to materialize the kept
    // set. Row count = dropped docs only (dup density × corpus, never
    // the whole corpus); singletons never appear. Same LSH pair
    // generation and components as q65 — one more projection, zero new
    // shuffles.
    "q73_dedup_drop_list" -> ((s, d) => {
      import s.implicits._
      val pairs = Dedup.minhashPairs(Tables.documents(s, d), minJaccard = 0.7)
        .select($"doc1".as("src"), $"doc2".as("dst"))
      graft.operators.Graph.connectedComponents(s, pairs)
        .filter($"node" =!= $"component")
        .select($"node".as("doc_id"), $"component".as("keep_doc_id"))
    }),

    // Drop list under a KEEPER POLICY: q73 keeps each cluster's min-id
    // doc; real pipelines keep the best doc. Here the keeper is the
    // longest (n_chars desc, doc_id tiebreak), elected below by a
    // window max partitioned by component over the cluster MEMBERSHIP
    // (dup-density-sized, NOT corpus-sized) — one pass, one shuffle.
    "q80_dedup_keep_longest" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashPairs(docs, minJaccard = 0.7)
        .select($"doc1".as("src"), $"doc2".as("dst"))
      val members = graft.operators.Graph.connectedComponents(s, pairs)
        .join(docs.select($"doc_id".as("node"), $"n_chars"), Seq("node"))
      // keeper election as a component-partitioned window max over
      // (n_chars, -node): ONE pass over members — the earlier
      // groupBy-then-join-back consumed members (and its embedded
      // documents scan) twice, doubling the corpus read (caught by the
      // PlanSpec single-scan contract)
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"component")
      members
        .withColumn("best", max(struct($"n_chars".cast("long").as("nc"),
          (-$"node").as("negn"))).over(w))
        .filter($"node" =!= -$"best.negn")
        .select($"node".as("doc_id"), (-$"best.negn").as("keep_doc_id"))
    }),

    // Test-set decontamination: q51's hash split carves a 10% holdout;
    // every train doc reports how many distinct 5-gram shingles it
    // shares with ANY holdout doc — the n-gram-overlap contamination
    // check run before training when the corpus may contain eval data.
    // Ids + shingle codes only through the join; see Dedup.contamination.
    "q66_decontaminate" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("bucket", pmod($"doc_id" * 2654435761L, lit(100L)))
      Dedup.contamination(
        docs.filter($"bucket" < 90), docs.filter($"bucket" >= 90))
    }),

    // q66's decontamination with the Bloom pre-prune, on an 80/20 split
    // (so it isn't a byte-for-byte rerun of q66): the holdout's shingle
    // codes become a broadcast-sized Bloom filter probed map-side
    // BEFORE the join shuffle; false positives die in the exact join,
    // so the oracle is the plain exact-join replay. See
    // Dedup.contaminationBloom for the shuffle-volume story.
    "q81_bloom_decontaminate" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("bucket", pmod($"doc_id" * 2654435761L, lit(100L)))
      Dedup.contaminationBloom(
        docs.filter($"bucket" < 80).drop("bucket"),
        docs.filter($"bucket" >= 80).drop("bucket"))
    }),

    // Gopher-style repetition quality filter: top-token / top-bigram /
    // distinct-token ratios per doc, plus the keep decision. Narrow
    // one-kernel-pass map, no shuffle; thresholds compare the ROUNDED
    // ratios so the keep flag can't straddle a ULP between engines.
    "q67_repetition_filter" -> ((s, d) => {
      import s.implicits._
      val st = Tables.documents(s, d)
        .select($"doc_id", TextStats.repetitionStats($"text").as("r"))
        .select($"doc_id", $"r.n_tokens".as("n_tokens"),
          $"r.n_distinct".as("n_distinct"),
          $"r.top_tok_freq".as("top_tok_freq"),
          $"r.top_bigram_freq".as("top_bigram_freq"))
      val topTokRatio = rnd($"top_tok_freq".cast("double") /
        nullif($"n_tokens", lit(0L)).cast("double"), 4)
      val distinctRatio = rnd($"n_distinct".cast("double") /
        nullif($"n_tokens", lit(0L)).cast("double"), 4)
      val topBigramRatio = rnd($"top_bigram_freq".cast("double") /
        nullif($"n_tokens" - 1L, lit(0L)).cast("double"), 4)
      st.select($"doc_id", $"n_tokens", $"n_distinct",
        $"top_tok_freq", $"top_bigram_freq",
        topTokRatio.as("top_tok_ratio"),
        distinctRatio.as("distinct_ratio"),
        topBigramRatio.as("top_bigram_ratio"),
        (topTokRatio <= 0.2 && distinctRatio >= 0.3).as("keep"))
    }),

    // Weighted domain mixing: per-source sampling thresholds computed
    // from the corpus itself (uniform target share per source, capped
    // at keeping everything), applied as a deterministic hash filter.
    // The threshold table is a per-source aggregate (tiny) broadcast
    // back onto the corpus — two scans, one shuffle of counts, the
    // sample filter itself pure map-side. Integer permille thresholds
    // (DIV) keep both engines bit-exact.
    "q68_domain_mix" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // scalar totals via crossJoin(broadcast(agg)) — q92's form — not
      // an unpartitioned window (cosmetically identical here on the
      // per-source K-row frame, but keeps WindowExec warnings meaning
      // something in plan audits); cnts cached so the totals pass
      // doesn't re-scan the corpus
      val cnts = Dedup.cached(
        docs.groupBy($"source").agg(count(lit(1)).as("n_before")))
      val tots = cnts.agg(sum($"n_before").as("total"),
        count(lit(1)).as("k"))
      val thr = cnts.crossJoin(broadcast(tots))
        .withColumn("thr",
          least(lit(1000L), expr("(total * 1000) DIV (k * n_before)")))
        .select($"source", $"n_before", $"thr")
      docs.join(broadcast(thr), Seq("source"))
        .filter(pmod($"doc_id" * 2654435761L + 131L, lit(1000L)) < $"thr")
        .groupBy($"source", $"n_before", $"thr")
        .agg(count(lit(1)).as("n_sampled"), min($"doc_id").as("first_doc"))
    }),

    // Boilerplate mining — the span-level complement of document-level
    // near-dup: 5-gram shingles appearing in >= 2 distinct documents,
    // ranked by document frequency (the spans exact-substring dedup
    // would cut). Shares the shingle kernel with q21/q66; ids + codes
    // only through the one shuffle; count aggregates map-side; top-k
    // with a total-order tiebreak.
    "q69_dup_ngrams" -> ((s, d) => {
      import s.implicits._
      // explode_outer + null filter: plain explode pushes its implied
      // size/isnotnull predicates below the projection and re-evaluates
      // the shingle kernel per predicate (see Dedup.contamination)
      Dedup.shingleSets(Tables.documents(s, d))
        .select(explode_outer($"tset").as("code"))
        .filter($"code".isNotNull)
        .groupBy($"code")
        .agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" >= 2)
        .orderBy($"n_docs".desc, $"code")
        .limit(20)
    }),

    // PII scrub: the corpus carries no natural PII, so the query plants
    // a deterministic email/IP/phone per document (every-other doc gets
    // a second email — counts must vary to prove the counter counts)
    // with the SAME string arithmetic as the oracle, then detects and
    // masks it back out. Narrow codegen'd map, no shuffle — the shape a
    // 100 TB scrub pass needs. See graft.ext.Pii for the portable-regex
    // contract.
    "q77_pii_redact" -> ((s, d) => {
      import s.implicits._
      val pii = concat($"text",
        lit(" contact u"), $"doc_id", lit("@ex.com from 10."),
        pmod($"doc_id", lit(250L)), lit("."), pmod($"doc_id" * 7L, lit(250L)),
        lit(".9 tel "),
        lpad(pmod($"doc_id", lit(1000L)).cast("string"), 3, "0"), lit("-"),
        lpad(pmod($"doc_id" * 13L, lit(10000L)).cast("string"), 4, "0"),
        when(pmod($"doc_id", lit(2L)) === 0, lit(" and admin@ex.org"))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .select($"doc_id", pii.as("pii_text"))
        .select($"doc_id",
          Pii.emailCount($"pii_text").as("n_emails"),
          Pii.ipv4Count($"pii_text").as("n_ips"),
          Pii.phoneCount($"pii_text").as("n_phones"),
          Pii.redact($"pii_text").as("red_text"))
    }),

    // Corpus snapshot diff: v2 is derived deterministically from v1
    // (doc_id % 17 removed, % 10 edited, % 23 re-added under a shifted
    // id), and the diff joins the two snapshots' 64-bit rolling-hash
    // FINGERPRINTS — ids + hashes through the full-outer join, never
    // text. That is the 100 TB shape: snapshot reconciliation compares
    // fingerprint manifests (kilobytes per million docs), not corpora.
    // Emits only the delta (added/removed/changed), never the unchanged
    // bulk.
    "q78_snapshot_diff" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      def fp(df: DataFrame) = df.select(
        $"doc_id", TextStats.fingerprint($"text").as("fp"))
      val v1 = fp(docs)
      val v2 = fp(docs.filter(pmod($"doc_id", lit(17L)) =!= 0)
        .select($"doc_id",
          when(pmod($"doc_id", lit(10L)) === 0, concat($"text", lit(" v2")))
            .otherwise($"text").as("text"))
        // 1e12 offset sits above any scaled id space: BuildSf1
        // replicates ids with a 1e6-per-replica stride, so a 1e6 shift
        // would collide with replica-1 ids on any >=2x corpus and
        // fan out the full-outer join with duplicate keys.
        .unionByName(docs.filter(pmod($"doc_id", lit(23L)) === 0)
          .select(($"doc_id" + 1000000000000L).as("doc_id"),
            concat($"text", lit(" new")).as("text"))))
      v1.select($"doc_id", $"fp".as("fp1"))
        .join(v2.select($"doc_id", $"fp".as("fp2")), Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"fp1".isNull, "added")
            .when($"fp2".isNull, "removed")
            .when($"fp1" =!= $"fp2", "changed")
            .otherwise("unchanged").as("status"))
        .filter($"status" =!= "unchanged")
    }),

    // Inverted index over word bigrams: document frequency + a BOUNDED
    // posting sample (the 10 smallest doc ids) per gram, top-20 grams by
    // df. The posting sample uses the mergeable bounded top-k aggregator
    // (score = -doc_id), NOT collect_set-then-slice: a hot gram's full
    // posting list is corpus-sized, and collecting it to slice 10 ids is
    // exactly the unbounded-buffer OOM this query exists to avoid. df
    // aggregates map-side; the final top-20 is a TakeOrderedAndProject,
    // never a global sort materialized.
    "q79_inverted_index" -> ((s, d) => {
      import s.implicits._
      val bg = Dedup.bigramCodes(TextStats.tokenCodesOf($"text"))
      val posting = Tables.documents(s, d)
        .select($"doc_id", explode_outer(bg).as("code"))
        .filter($"code".isNotNull)
      val firstK = udaf(new graft.ext.TopKByScore(10))
      posting.groupBy($"code")
        .agg(count(lit(1)).as("df"),
          firstK(-$"doc_id".cast("double"), $"doc_id").as("post"))
        .orderBy($"df".desc, $"code")
        .limit(20)
        .select($"code", $"df",
          array_join(transform($"post", p => p.getField("_2").cast("string")), ",")
            .as("post_sample"))
    }),

    // Tokenizer-vocabulary coverage: vocab = top-20 token codes by
    // corpus frequency (count desc, code tiebreak — the boundary must
    // be deterministic); every doc reports its token count, OOV count,
    // and OOV ratio. Shape: one explode (ids + codes), a map-side-
    // combined frequency agg, a bounded TakeOrdered for the vocab, and
    // a broadcast left join back — the corpus-side rows never shuffle.
    // Zero-token docs drop out of the explode (the oracle's UNNEST
    // drops them identically).
    "q82_vocab_coverage" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode_outer(TextStats.tokenCodesOf($"text")).as("code"))
        .filter($"code".isNotNull)
      val vocab = toks.groupBy($"code").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"code").limit(20)
        .select($"code", lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("code"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"doc_id", $"n_tokens", $"n_oov",
          rnd($"n_oov".cast("double") / $"n_tokens".cast("double"), 4)
            .as("oov_ratio"))
    }),

    // Perplexity-proxy quality scoring: average negative log-prob of
    // each doc's bigrams under an add-one-smoothed bigram model trained
    // on the corpus itself — the KenLM-style fluency filter. See
    // graft.ext.LangModel for the integer-summation determinism story.
    "q83_bigram_lm_score" -> ((s, d) =>
      graft.ext.LangModel.bigramNll(Tables.documents(s, d))),

    // Corpus data card: one row of corpus-health metrics — doc/token
    // totals, exact-dup rate, mean doc length, language entropy, and
    // the q67 quality-keep rate. The corpus analog of q45's warehouse
    // audit: three independent aggregates (each map-side combined, each
    // one pass) cross-joined as single rows. Entropy uses the q83
    // discipline: per-language ln(p) rounded to 4 and weighted by the
    // INTEGER language count, so the sum is exact long arithmetic and
    // addition order cannot matter.
    "q85_corpus_report" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val keepCond =
        rnd($"tf".cast("double") / nullif($"nt", lit(0L)).cast("double"), 4) <= 0.2 &&
          rnd($"nd".cast("double") / nullif($"nt", lit(0L)).cast("double"), 4) >= 0.3
      // ONE ungrouped pass for every doc-level aggregate (count,
      // distinct, token total, quality keeps) — these were two separate
      // corpus scans (audited); only the per-lang entropy pass below
      // genuinely needs a different grouping
      val base = docs
        .select($"text", TextStats.repetitionStats($"text").as("r"))
        .select($"text", $"r.n_tokens".as("nt"), $"r.n_distinct".as("nd"),
          $"r.top_tok_freq".as("tf"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"text").as("n_distinct_texts"),
          sum(size(TextStats.tokens($"text")).cast("long")).as("n_tokens"),
          sum(when(keepCond, 1L).otherwise(0L)).as("n_keep"))
      // scalar total via crossJoin(broadcast(agg)) — q92's form, no
      // unpartitioned window; nl table cached (K rows) so the total
      // doesn't re-run the lang aggregate
      val nls = Dedup.cached(docs.groupBy($"lang").agg(count(lit(1)).as("nl")))
      val ent = nls
        .crossJoin(broadcast(nls.agg(sum($"nl").as("total"))))
        .agg(sum($"nl" *
          floor(log($"nl".cast("double") / $"total".cast("double"))
            * 10000 + 0.5).cast("long")).as("s4"))
      base.crossJoin(ent).select(
        $"n_docs", $"n_tokens",
        ($"n_docs" - $"n_distinct_texts").as("n_exact_dup_docs"),
        rnd(($"n_docs" - $"n_distinct_texts").cast("double") /
          $"n_docs".cast("double"), 4).as("dup_rate"),
        rnd($"n_tokens".cast("double") / $"n_docs".cast("double"), 4)
          .as("mean_doc_tokens"),
        rnd(-$"s4".cast("double") / ($"n_docs" * 10000.0), 4)
          .as("lang_entropy"),
        rnd($"n_keep".cast("double") / $"n_docs".cast("double"), 4)
          .as("quality_keep_rate"))
    }),

    // Epoch-style rebalancing: each language is UPSAMPLED toward the
    // largest one (integer repeat factor = max_count DIV count, min 1 —
    // the "repeat the small high-quality source k times" mixing move).
    // Shape: the factor table is a tiny broadcast; replication is
    // explode(sequence(1, factor)) — pure map-side fan-out, no shuffle
    // of the corpus; the verification aggregate groups by (lang, rep)
    // with an id-sum checksum proving every replica covers every doc.
    "q86_rebalance_upsample" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // scalar max via crossJoin(broadcast(agg)) — q92's form, no
      // unpartitioned window; cnts cached so the max doesn't re-scan
      val cnts = Dedup.cached(
        docs.groupBy($"lang").agg(count(lit(1)).as("n_before")))
      val fac = cnts
        .crossJoin(broadcast(cnts.agg(max($"n_before").as("maxn"))))
        .withColumn("factor", greatest(lit(1L), expr("maxn DIV n_before")))
        .select($"lang", $"n_before", $"factor")
      docs.join(broadcast(fac), Seq("lang"))
        .select($"lang", $"n_before", $"factor", $"doc_id",
          explode(sequence(lit(1L), $"factor")).as("rep"))
        .groupBy($"lang", $"n_before", $"factor", $"rep")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("id_sum"))
    }),

    // Token-budget subsampling: per language, keep docs in deterministic
    // hash order until the cumulative token count reaches the budget.
    // The cumulative sum uses the two-phase distributed prefix scan
    // (operators.PrefixSum) — NOT a window PARTITION BY lang, whose one-
    // task-per-language execution is the q63-style serial bottleneck a
    // handful-of-languages corpus hits at scale. The hash order key is
    // injective (odd multiplier mod prime), so the order is total and
    // the cutoff deterministic.
    "q87_token_budget_sample" -> ((s, d) => {
      import s.implicits._
      val base = Tables.documents(s, d).select(
        $"lang",
        pmod($"doc_id" * 2654435761L + 17L, lit(1000000007L)).as("h"),
        $"doc_id",
        coalesce(size(TextStats.tokens($"text")), lit(0))
          .cast("long").as("n_tok"))
      graft.operators.PrefixSum
        .cumSumByKey(base, "lang", Seq("h"), "n_tok")
        .filter($"cum" <= 2000)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), max($"cum").as("tok_sum"),
          min($"doc_id").as("min_doc"))
    }),

    // Brute-force cosine top-10 around vec_id 0.
    "q23_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), queryVecId = 0L, k = 10)),

    // Sign-bucketed ANN top-5 (the scale path).
    "q24_ann_bucketed" -> ((s, d) =>
      Similarity.bucketedTopK(Tables.embeddings(s, d), queryVecId = 0L, k = 5)),

    // TF-IDF keyword extraction: per-doc top-3 token codes by
    // tf * ln(N/df). Shape: explode ids+codes (narrow), two map-side-
    // combined aggregates (tf, then df over the tf table — each
    // (doc, code) appears once, so df is a plain count), a join on the
    // uniformly-hashed code, and the mergeable bounded top-k aggregator
    // instead of a row_number window (Q x k tuples per partition, not
    // every scored row). The idf is ROUNDED EARLY (per distinct df
    // value): JVM Math.log and libm ln disagree by 1 ULP on ~0.1% of
    // inputs, so raw log comparisons would be flaky; rounding at the
    // (few) distinct idf values first confines the risk to exact
    // boundary ties, then tf * idf_r and the final rounding are IEEE-
    // deterministic on both engines.
    "q71_tfidf_keywords" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // cached: tf feeds BOTH the df derivation and the scoring join —
      // uncached, the token kernel + corpus scan run twice (audited);
      // the separate count(*) scan for n stays (footer-only read, and
      // empty docs must count toward n but never enter tf)
      val tf = Dedup.cached(docs
        .select($"doc_id", explode_outer(TextStats.tokenCodesOf($"text")).as("code"))
        .filter($"code".isNotNull)
        .groupBy($"doc_id", $"code").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy($"code").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(df, Seq("code")).join(broadcast(n))
        .withColumn("idf_r", rnd(log($"n".cast("double") / $"df".cast("double")), 4))
        .select($"doc_id", $"code",
          rnd($"tf".cast("double") * $"idf_r", 4).as("score"))
      val topk = udaf(new graft.ext.TopKByScore(3))
      scored.groupBy($"doc_id")
        .agg(topk($"score", $"code").as("top"))
        .select($"doc_id", posexplode($"top").as(Seq("rank0", "r")))
        .select($"doc_id", ($"rank0" + 1).cast("long").as("rank"),
          $"r._2".as("code"), $"r._1".as("score"))
    }),

    // Batch retrieval: top-5 for every query vector id < 3 in one pass
    // (mergeable bounded top-k aggregation — see Similarity.batchTopK).
    "q70_batch_ann" -> ((s, d) =>
      Similarity.batchTopK(Tables.embeddings(s, d), queryMaxId = 3L, k = 5)),

    // Multi-probe RP-LSH retrieval: top-5 for every query id < 3,
    // probing the query's bucket plus all 8 Hamming-1 neighbors
    // (see Similarity.rpTopK for the 100 TB layout story).
    "q72_rp_lsh_topk" -> ((s, d) =>
      Similarity.rpTopK(Tables.embeddings(s, d), queryMaxId = 3L, k = 5)),

    // Cluster profile: every embedding assigned to its nearest of 8
    // FIXED centroids (vec_id < 8 — deterministic, unlike replaying
    // iterative float k-means cross-engine), then per-cell population
    // stats. Shape: centroids broadcast onto the corpus (map-side
    // argmax via max_by, no shuffle of the corpus for assignment), one
    // count-sized shuffle for the profile. Mean cosine avoids float
    // summation-order drift the q83 way: rounded cosines scaled to
    // integer longs, summed exactly, one final division.
    "q84_cluster_profile" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cell"), $"embedding".as("cvec"))
      val cos6 = rnd(Similarity.cosine($"embedding", $"cvec"), 6)
      emb.crossJoin(broadcast(cents))
        .select($"vec_id", $"cell", cos6.as("cos"))
        .groupBy($"vec_id")
        .agg(max_by($"cell", struct($"cos", -$"cell")).as("cell"),
          max(struct($"cos", -$"cell")).getField("cos").as("cos"))
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec"),
          sum(floor($"cos" * 1000000 + 0.5).cast("long")).as("s6"))
        .select($"cell", $"n_vecs", $"min_vec",
          rnd($"s6".cast("double") / ($"n_vecs" * 1000000.0), 6).as("avg_cos"))
    }),

    // Embedding near-duplicate pairs within sign buckets.
    "q25_embedding_near_dup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), minCos = 0.3)),

    // Per-label embedding outlier detection: cosine of every vector to
    // its LABEL centroid; vectors pointing away from their cohort
    // (cos < 0) are flagged — the mislabeled/noise screen run before
    // training on labeled embeddings. Determinism: vectors AND centroid
    // are micro-quantized (1e-6) to longs, so dot and norms are EXACT
    // 64-bit sums (64 dims × 1e12/term ≈ 6.4e13 ≪ 2^63, and ≪ 2^53 so
    // the final double division/sqrt are on exactly-represented ints) —
    // float enters only at the one rounded division. A float-typed
    // formulation left ~1e-9 engine-order skew that flipped the 1e-6
    // rounding boundary. Shape: centroid agg is (labels × dims)-sized;
    // the centroid broadcasts; the corpus scores in one narrow map and
    // never shuffles.
    "q98_embedding_outliers" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .withColumn("vm", transform($"embedding",
          x => floor(x.cast("double") * 1000000 + 0.5).cast("long")))
      val cent = emb
        .select($"label", posexplode($"vm").as(Seq("dim", "m")))
        .groupBy($"label", $"dim")
        .agg(sum($"m").as("smicro"), count(lit(1)).as("n"))
        .select($"label", $"dim",
          floor($"smicro".cast("double") / $"n".cast("double") + 0.5)
            .cast("long").as("cmicro"))
        .groupBy($"label")
        .agg(transform(array_sort(collect_list(struct($"dim", $"cmicro"))),
          x => x.getField("cmicro")).as("cm"))
      def idot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
      emb.join(broadcast(cent), Seq("label"))
        .select($"vec_id", $"label",
          rnd(idot($"vm", $"cm").cast("double") /
            (sqrt(idot($"vm", $"vm").cast("double")) *
              sqrt(idot($"cm", $"cm").cast("double"))), 6).as("cos_centroid"))
        .withColumn("is_outlier", $"cos_centroid" < 0.0)
    }),

    // Multimodal plumbing: binary payloads -> partition-batched features.
    // text/plain has no container header, so this exercises the
    // degrade-to-byte-features path (format = "unknown").
    "q26_multimodal_features" -> ((s, d) => {
      import s.implicits._
      Multimodal.extractFeatures(
        Multimodal.mediaFromDocuments(Tables.documents(s, d))
          .as[Multimodal.MediaRecord]).toDF()
    }),

    // Unicode NFC canonicalization report: per-doc normalized length +
    // changed flag via the native codegen'd nfc_normalize expression —
    // the canonicalize-before-hashing step without which composed vs
    // decomposed accents slip past every hash-based dedup. A narrow
    // map, no shuffle; the oracle is DuckDB's own nfc_normalize (both
    // implement Unicode NFC). Real composed/decomposed pairs are pinned
    // in ExtensionsSpec (the driver corpus is already-normalized text,
    // so the gate here covers the identity fast path).
    "q99_nfc_report" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select($"doc_id",
        org.apache.spark.sql.graft.GraftColumns
          .nfcNormalize(coalesce($"text", lit(""))).as("norm"),
        coalesce($"text", lit("")).as("raw"))
        .select($"doc_id",
          length($"norm").cast("long").as("n_chars_nfc"),
          ($"norm" =!= $"raw").as("changed"))
    }),

    // Real container-header decode round-trip: each doc becomes a
    // payload with a genuine PNG/JPEG/GIF/WAV header (doc_id % 5; %5==4
    // stays raw bytes) and the decoder parses dims/rate back OUT of the
    // header bytes. The oracle recomputes the expected metadata
    // arithmetically from doc_id, so a parser offset/endianness bug
    // hash-fails here.
    "q96_media_decode" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.fixtureMedia(Tables.documents(s, d)))
        .toDF()
        .select(col("media_id"), col("format"), col("feat_width"),
          col("feat_height"), col("sample_rate"), col("channels"))),

    // BM25 lexical retrieval: top-20 docs for a fixed 3-term query
    // (Okapi, Lucene idf). See graft.ext.Retrieval for the 100 TB shape
    // (filter-before-explode, broadcast term stats, integer-scaled
    // per-term partials) and the cross-engine determinism argument.
    "q102_bm25" -> ((s, d) =>
      graft.ext.Retrieval.bm25TopK(Tables.documents(s, d), Bm25Terms, 20)),

    // the same retrieval through the SQL table-function surface
    // (GraftExtensions.bm25_topk splices bm25TopK's analyzed plan, so
    // this gate proves the pure-SQL user gets the Scala answer and the
    // Scala plan — gated against the identical q102 oracle string).
    "q118_bm25_sql" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("q118_docs")
      s.sql(s"""SELECT doc_id, n_terms, score
                FROM bm25_topk('q118_docs', '${Bm25Terms.mkString(",")}', 20)""")
    }),

    // Vocabulary-richness report: per-doc type/token counts, hapax count
    // and ratios from a row-local sorted-code scan — narrow, no explode,
    // no shuffle (see TextStats.vocabRichness).
    "q103_vocab_richness" -> ((s, d) => {
      import s.implicits._
      TextStats.vocabRichness(
        Tables.documents(s, d).select($"doc_id", $"text"), "text")
    }),

    // Multimodal resize over the raw-raster seam: each doc's text bytes
    // as a meta-declared (w × h) raster, nearest-neighbor-resized to
    // 8×6 by Multimodal.resizeKernel (the deterministic byte-grid stub
    // standing in for a pixel codec — the index arithmetic, degrade
    // path and batch shape are the real, oracle-gated part; see the
    // kernel Scaladoc). Output compared as string (ASCII corpus, same
    // precedent as q48's frame slices). Degenerate dims/empty payload
    // -> NULL raster, row kept.
    "q104_resize" -> ((s, d) => {
      import s.implicits._
      val raw = Multimodal.mediaFromDocuments(Tables.documents(s, d))
        .select($"media_id", $"payload",
          $"meta_width".as("w"), $"meta_height".as("h"))
        .as[Multimodal.RawRaster]
      Multimodal.resizeRaw(raw, 8, 6).toDF()
        .select($"media_id", $"src_width", $"src_height",
          $"raster".cast("string").as("resized"))
    }),
    // Batch-query BM25: top-10 docs for EVERY query in a 5-query table
    // (the production RAG-batch shape; see Retrieval.bm25BatchTopK for
    // the explode + broadcast-term-join + mergeable-top-k plan). The
    // fixture covers a high-df pair, a 3-term mix, a rare+common mix
    // (dup has df 25 vs ~390 for the rest), a no-match query (emits
    // nothing), and a repeated term (a query is a SET — scores once).
    "q105_bm25_batch" -> ((s, d) => {
      import s.implicits._
      graft.ext.Retrieval.bm25BatchTopK(Tables.documents(s, d),
        Bm25BatchQueries.toDF("query_id", "terms"), 10)
    }),

    // Hybrid retrieval: RRF-fuse the q105 lexical rankings with a
    // per-query document-length prior (the popularity/recency-prior
    // shape of production hybrid search; attached via a constant-key
    // broadcast join, not a cross join). Integer-scaled 1/(c+rank)
    // contributions keep the fusion bit-exact across engines. The
    // no-match query (id 3) surfaces pure-prior results — the fallback
    // behavior hybrid fusion exists for.
    "q107_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      // one cached projection feeds BOTH consumers (the lexical side's
      // tokenizer and the length prior) — without it the prior's
      // pruned-but-full top-20 scan is a second corpus read at 100 TB
      val docs = Dedup.cached(Tables.documents(s, d)
        .select($"doc_id", $"text", $"n_chars"))
      val queries = Bm25BatchQueries.toDF("query_id", "terms")
      val lexical = graft.ext.Retrieval.bm25BatchTopK(docs, queries, 10)
      // rank-by-predecessor-count over the broadcast 20-row frame — no
      // global-order window (cosmetically identical here, but keeps
      // WindowExec warnings meaning something in plan audits); cached
      // because both crossJoin sides consume it
      val top20 = Dedup.cached(docs
        .select($"doc_id", coalesce($"n_chars", lit(0)).cast("long").as("nc"))
        .orderBy($"nc".desc, $"doc_id".asc).limit(20))
      val priorRanked = top20
        .crossJoin(broadcast(
          top20.select($"doc_id".as("d2"), $"nc".as("nc2"))))
        .groupBy($"doc_id", $"nc")
        .agg((sum(when($"nc2" > $"nc" ||
            ($"nc2" === $"nc" && $"d2" < $"doc_id"), 1L).otherwise(0L)) + 1L)
          .as("rank"))
        .select($"doc_id", $"rank")
      val prior = queries.select($"query_id", lit(1).as("j"))
        .join(broadcast(priorRanked.withColumn("j", lit(1))), Seq("j"))
        .select($"query_id", $"rank", $"doc_id")
      graft.ext.Retrieval.rrfFuse(Seq(lexical, prior), k = 10)
    }),

    // Serving-path BM25: the q105 query set decomposed the way a live
    // endpoint runs it — ONE prebuilt index (full inverted postings +
    // df + exact collected stats, Retrieval.bm25Index), then two
    // disjoint query batches served through it and unioned. Gates the
    // postings path against DuckDB end-to-end (not just against
    // bm25BatchTopK): restricting full postings/df to a batch's term
    // set yields exactly the filtered-corpus values, and per-batch
    // scoring shares q105's expression tree by construction.
    "q110_bm25_serving" -> ((s, d) => {
      import s.implicits._
      val idx = graft.ext.Retrieval.bm25Index(Tables.documents(s, d))
      val (b1, b2) = Bm25BatchQueries.partition(_._1 < 2)
      graft.ext.Retrieval
        .bm25TopKIndexed(idx, b1.toDF("query_id", "terms"), 10)
        .unionByName(graft.ext.Retrieval
          .bm25TopKIndexed(idx, b2.toDF("query_id", "terms"), 10))
    }),

    // the POINT-LOOKUP tier: the q105 queries served ONE AT A TIME
    // through the bucketed/sorted disk export (IndexExport) — each
    // lookup partition-prunes to its own terms' buckets, no in-memory
    // index, no streaming floor — unioned and gated against the SAME
    // q105 oracle chain (the serving decompositions must all land on
    // the batch answer exactly).
    "q120_bm25_lookup" -> ((s, d) => {
      val out = bm25ExportDir(s, d)
      Bm25BatchQueries.map { case (qid, terms) =>
        graft.jobs.IndexExport.bm25Lookup(s, out, Seq(qid -> terms), 10)
      }.reduce(_ unionByName _)
    }),

    // the DEDICATED single-query lookup plan (one shuffle, TakeOrdered
    // top-k, driver-constant stats) over the same export — gated
    // against the IDENTICAL q102 oracle string, so the fast path's
    // arithmetic can never drift from the batch scorer's.
    "q121_bm25_lookup_single" -> ((s, d) =>
      graft.jobs.IndexExport.bm25LookupSingle(s, bm25ExportDir(s, d),
        Bm25Terms, 20)),

    // the SERVE twins: identical lookup chains to q120/q121 but against
    // a PRE-BUILT export (fingerprint-keyed, built once per corpus
    // content) — the production serving shape, where index maintenance
    // is the batch path's job and a lookup pays only the lookup.
    // q120/q121 keep the build inside the timed query (the recorded
    // setup-cost rows); the bench reads q123/q124 for serving drift.
    // Gated against the SAME oracle strings — the prebuilt round-trip
    // must be invisible to the answer.
    "q123_bm25_lookup_served" -> ((s, d) => {
      val out = bm25ExportDirServed(s, d)
      Bm25BatchQueries.map { case (qid, terms) =>
        graft.jobs.IndexExport.bm25Lookup(s, out, Seq(qid -> terms), 10)
      }.reduce(_ unionByName _)
    }),
    "q124_bm25_single_served" -> ((s, d) =>
      graft.jobs.IndexExport.bm25LookupSingle(s, bm25ExportDirServed(s, d),
        Bm25Terms, 20)),
  )

  /** Build + export the bm25 index for `d` into a FIXED per-corpus temp
    * dir — every invocation re-exports (a fresh epoch under the same
    * root; IndexExport's `_LATEST` swap + prune keep the directory from
    * accumulating full postings copies). This is the SETUP-INCLUDED
    * path q120/q121 time on purpose.
    */
  private def bm25ExportDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_bm25_export_${math.abs(d.hashCode)}").toString
    val idx = graft.ext.Retrieval.bm25Index(Tables.documents(s, d))
    graft.jobs.IndexExport.exportBm25(idx, out)
    graft.ext.Dedup.clearSignatureCaches()
    out
  }

  /** The PRE-BUILT export the serve twins read: keyed by the corpus
    * CONTENT fingerprint (so changed data under the same path rebuilds
    * instead of serving stale bytes), built only when its `_LATEST`
    * pointer is absent. Bench passes after the first therefore time
    * pure serving — the split the bench needs to stay sensitive to
    * serving regressions instead of re-measuring the exporter.
    */
  private def bm25ExportDirServed(s: org.apache.spark.sql.SparkSession,
      d: String): String = synchronized {
    val fp = Tables.fingerprint(d, Seq("documents"))
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_serve_$fp").toString
    if (!new java.io.File(out, "_LATEST").isFile) {
      val idx = graft.ext.Retrieval.bm25Index(Tables.documents(s, d))
      graft.jobs.IndexExport.exportBm25(idx, out)
      graft.ext.Dedup.clearSignatureCaches()
    }
    out
  }

  /** q102's fixed query terms — shared verbatim with the oracle SQL. */
  private[queries] val Bm25Terms = Seq("spark", "table", "hash")

  /** q105's query table — shared verbatim with the oracle SQL's VALUES. */
  private[queries] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    (0L, Seq("spark", "table")),
    (1L, Seq("hash", "join", "data")),
    (2L, Seq("dup", "window")),
    (3L, Seq("zzz_absent", "qqq_absent")),
    (4L, Seq("spark", "spark", "scan")))

  /** The batch-BM25 oracle CTE chain (query VALUES → per-(query, doc)
    * ranked scores in `rk`) — ONE builder consumed by both the q105
    * oracle and q107's fusion oracle, so the lexical side of the hybrid
    * gate can never drift from the BM25 gate.
    */
  private lazy val bm25BatchRkCtes: String = {
    val valuesSql = Bm25BatchQueries.map { case (id, ts) =>
      s"($id, ${ts.map(t => s"'$t'").mkString("[", ", ", "]")})"
    }.mkString(", ")
    val idfR = Num.rSql(
      "ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)", 4)
    s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, terms
          FROM (VALUES $valuesSql) AS v(query_id, terms)),
        qt AS (SELECT DISTINCT query_id, unnest(terms) AS term FROM q),
        tset AS (SELECT DISTINCT term FROM qt),
        t AS (SELECT doc_id,
          list_filter(string_split(coalesce(text, ''), ' '), t -> t != '') AS toks
          FROM documents),
        b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t),
        st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM b),
        tfg AS (SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM b) e
          JOIN tset USING (term)
          GROUP BY doc_id, dl, term),
        dft AS (SELECT term, count(*) AS df FROM tfg GROUP BY term),
        sc AS (SELECT doc_id, term,
            CAST(floor(idf_r * tfs * 10000 + 0.5) AS BIGINT) AS s4
          FROM (SELECT tfg.doc_id, tfg.term,
              $idfR AS idf_r,
              CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) +
                1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS tfs
            FROM tfg JOIN dft USING (term)
            CROSS JOIN (SELECT n, CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
              FROM st) s)),
        ps AS (SELECT query_id, doc_id,
            ${Num.rSql("CAST(sum(s4) AS DOUBLE) / 10000.0", 4)} AS score
          FROM sc JOIN qt USING (term) GROUP BY query_id, doc_id),
        rk AS (SELECT query_id, doc_id, score, row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
          FROM ps)"""
  }

  // ---- oracle SQL ------------------------------------------------------

  /** Shared CTE fragments (DuckDB list lambdas mirroring the Spark
    * higher-order functions).
    */
  private[queries] val toksExpr = "list_filter(string_split(text, ' '), t -> t != '')"
  private[queries] def codesExpr(toks: String) =
    s"""list_transform($toks, t -> list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        (a, c) -> (a * 31 + c) % $P))"""

  private val stopList =
    TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private def markerCnt(markers: Seq[String]) =
    s"len(list_filter(toks, t -> list_contains(${markers.map(w => s"'$w'").mkString("[", ", ", "]")}, t)))"

  private val simhashTerms: String = (0 until 16).map { k =>
    s"(CASE WHEN list_sum(list_transform(tset, c -> (c >> $k) & 1)) * 2 >= len(tset) THEN ${1L << k} ELSE 0 END)"
  }.mkString(" + ")

  private[queries] val minhashCols: String = (0 until Dedup.K).map { i =>
    s"list_min(list_transform(tset, c -> (${Dedup.A(i)} * c + ${Dedup.B(i)}) % $P)) AS m$i"
  }.mkString(", ")

  private[queries] val bandKeyCase: String = (0 until Dedup.Bands).map { b =>
    val ms = (0 until Dedup.Rows).map(r => s"CAST(m${b * Dedup.Rows + r} AS VARCHAR)")
    s"WHEN band = $b THEN ${ms.mkString(" || ':' || ")}"
  }.mkString("CASE ", " ", " END")

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i]))"

  private def cosSql(a: String, b: String) =
    Num.rSql(s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))", 6)

  private val bucketSql: String = (0 until 8).map { dd =>
    s"(CASE WHEN embedding[${dd + 1}] > 0 THEN ${1L << dd} ELSE 0 END)"
  }.mkString(" + ")

  /** (doc_id, tset) 5-gram shingle-set CTEs — shared by the q21 LSH
    * replay, the q66 decontamination replay and the q117 composed
    * pipeline (one arithmetic, every consumer, zero drift). `src` lets
    * the pipeline replay build shingles over its cleaned corpus CTE
    * instead of raw `documents`.
    */
  private[queries] def shingleCtesFor(src: String): String =
    s"""c AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM $src),
        t AS (SELECT doc_id, list_distinct(CASE WHEN len(codes) >= 5
          THEN list_transform(generate_series(1, len(codes) - 4), i ->
            (((((((codes[i] * 131 + codes[i+1]) % $P) * 131 + codes[i+2]) % $P) * 131 + codes[i+3]) % $P) * 131 + codes[i+4]) % $P)
          ELSE [] END) AS tset FROM c)"""

  private[queries] val shingleCtes = shingleCtesFor("documents")

  /** q21's full LSH pair replay — shared with q65, which clusters the
    * same pair list into components.
    */
  private val q21Sql =
    s"""SELECT * FROM (WITH $shingleCtes,
        sig AS (SELECT doc_id, tset, $minhashCols FROM t),
        bands0 AS (
          SELECT doc_id, tset, band, $bandKeyCase AS key
          FROM sig CROSS JOIN (VALUES ${(0 until Dedup.Bands).map(b => s"($b)").mkString(", ")}) AS bb(band)
          WHERE len(tset) > 0),
        bands AS (
          SELECT doc_id, tset, band, key FROM (
            SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz FROM bands0)
          WHERE bsz <= 1000),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2, l.tset AS t1, r.tset AS t2
          FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
          WHERE l.doc_id < r.doc_id)
        SELECT doc1, doc2,
          floor((CAST(len(list_intersect(t1, t2)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
        FROM cand) WHERE jaccard >= 0.7"""

  /** The q102 BM25 replay — ONE string consumed by both the q102
    * (Scala helper) and q118 (SQL table function) gates.
    */
  private[queries] val Bm25Oracle: String = {
    val termsList = Bm25Terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val idfR = Num.rSql(
      "ln((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)", 4)
    s"""WITH t AS (SELECT doc_id,
          list_filter(string_split(coalesce(text, ''), ' '), t -> t != '') AS toks
          FROM documents),
        b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
            list_filter(toks, t -> list_contains($termsList, t)) AS qtoks
          FROM t),
        st AS (SELECT count(*) AS n, sum(dl) AS sum_dl FROM b),
        tfg AS (SELECT doc_id, dl, term, count(*) AS tf
          FROM (SELECT doc_id, dl, unnest(qtoks) AS term FROM b)
          GROUP BY doc_id, dl, term),
        dft AS (SELECT term, count(*) AS df FROM tfg GROUP BY term),
        sc AS (SELECT doc_id,
            CAST(floor(idf_r * tfs * 10000 + 0.5) AS BIGINT) AS s4
          FROM (SELECT tfg.doc_id,
              $idfR AS idf_r,
              CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE) +
                1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS tfs
            FROM tfg JOIN dft USING (term)
            CROSS JOIN (SELECT n, CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
              FROM st) s))
        SELECT doc_id, count(*) AS n_terms,
          ${Num.rSql("CAST(sum(s4) AS DOUBLE) / 10000.0", 4)} AS score
        FROM sc GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC LIMIT 20"""
  }

  val oracleSql: Map[String, String] = Map(
    "q17_doc_stats" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks, length(text) AS nch FROM documents)
          SELECT doc_id,
            CAST(nch AS BIGINT) AS n_chars_calc,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            floor((CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS avg_token_len,
            CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS BIGINT) AS n_stopwords,
            floor((CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) * 10000 + 0.5) / 10000 AS stopword_ratio,
            floor((least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.5 +
              (1.0 - abs(CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) - 0.4)) * 0.5) * 10000 + 0.5) / 10000 AS quality_score
          FROM t""",
    "q18_lang_id" -> {
      val cnts = TextStats.langMarkers.map { case (lang, m) =>
        s"${markerCnt(m)} AS c_$lang"
      }.mkString(", ")
      val langs = TextStats.langMarkers.map(_._1)
      val folds = langs.tail.zipWithIndex.map { case (lang, i) =>
        s"""s${i + 1} AS (SELECT *, CASE WHEN c_$lang > bc$i THEN '$lang' ELSE bl$i END AS bl${i + 1},
            greatest(c_$lang, bc$i) AS bc${i + 1} FROM s$i)"""
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, $toksExpr AS toks FROM documents),
          c AS (SELECT doc_id, lang, $cnts FROM t),
          s0 AS (SELECT *, '${langs.head}' AS bl0, c_${langs.head} AS bc0 FROM c),
          $folds
          SELECT doc_id, lang, bl${langs.size - 1} AS lang_pred FROM s${langs.size - 1}"""
    },
    "q19_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          t2 AS (SELECT doc_id, codes, list_distinct(codes) AS tset FROM t)
          SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
              (a, c) -> (a * 131 + c) % $P) AS fingerprint,
            CAST($simhashTerms AS BIGINT) AS simhash16
          FROM t2""",
    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
         FROM documents GROUP BY text""",
    "q21_minhash_pairs" -> q21Sql,
    "q64_embedding_quantize" ->
      """WITH b AS (SELECT vec_id, embedding,
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0 AS scale
         FROM embeddings)
         SELECT vec_id,
           floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
           CAST(list_sum(list_transform(embedding,
             x -> floor(CAST(x AS DOUBLE) / scale + 0.5))) AS BIGINT) AS q_sum,
           floor(list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
             * 1000000 + 0.5) / 1000000 AS max_err
         FROM b""",
    "q65_dedup_components" ->
      s"""WITH RECURSIVE pairs AS ($q21Sql),
          e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                UNION SELECT doc2, doc1 FROM pairs),
          n AS (SELECT DISTINCT src AS node FROM e),
          r AS (SELECT node, node AS lbl FROM n
                UNION
                SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node)
          SELECT component, count(*) AS n_docs
          FROM (SELECT node, min(lbl) AS component FROM r GROUP BY node)
          GROUP BY component""",
    // identical oracle to q65: the algorithm differs, the contract
    // (component = min reachable id) does not
    "q100_components_star" ->
      s"""WITH RECURSIVE pairs AS ($q21Sql),
          e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                UNION SELECT doc2, doc1 FROM pairs),
          n AS (SELECT DISTINCT src AS node FROM e),
          r AS (SELECT node, node AS lbl FROM n
                UNION
                SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node)
          SELECT component, count(*) AS n_docs
          FROM (SELECT node, min(lbl) AS component FROM r GROUP BY node)
          GROUP BY component""",
    "q76_incremental_dedup" ->
      s"""SELECT * FROM (WITH $shingleCtes,
          sig AS (SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
            tset, $minhashCols FROM t),
          bands AS (SELECT doc_id, bucket, tset, band, $bandKeyCase AS key
            FROM sig CROSS JOIN (VALUES ${(0 until Dedup.Bands).map(b => s"($b)").mkString(", ")}) AS bb(band)
            WHERE len(tset) > 0),
          bi AS (SELECT doc_id, tset, band, key FROM (
            SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
            FROM bands WHERE bucket >= 90) WHERE bsz <= 1000),
          bs AS (SELECT doc_id, tset, band, key FROM (
            SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz
            FROM bands WHERE bucket < 90) WHERE bsz <= 1000),
          cand AS (SELECT DISTINCT i.doc_id AS in_doc, s.doc_id AS store_doc,
              i.tset AS t1, s.tset AS t2
            FROM bi i JOIN bs s ON i.band = s.band AND i.key = s.key)
          SELECT in_doc, store_doc,
            floor((CAST(len(list_intersect(t1, t2)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(t1, t2))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
          FROM cand) WHERE jaccard >= 0.5""",
    "q75_span_dedup" ->
      s"""WITH c AS (SELECT doc_id, $toksExpr AS toks, ${codesExpr(toksExpr)} AS codes FROM documents),
          g AS (SELECT doc_id, toks,
            CASE WHEN len(codes) >= 5 THEN list_transform(generate_series(1, len(codes) - 4), i ->
              (((((((codes[i] * 131 + codes[i+1]) % $P) * 131 + codes[i+2]) % $P) * 131 + codes[i+3]) % $P) * 131 + codes[i+4]) % $P)
            ELSE [] END AS grams FROM c),
          pos AS (SELECT doc_id, i AS p, grams[i] AS gr
            FROM g, UNNEST(generate_series(1, len(grams))) AS u(i)),
          hot AS (SELECT gr FROM (SELECT DISTINCT doc_id, gr FROM pos)
            GROUP BY gr HAVING count(*) >= 3),
          hs AS (SELECT doc_id, list(p) AS hotp
            FROM pos JOIN hot USING (gr) GROUP BY doc_id),
          j AS (SELECT c.doc_id, c.toks, coalesce(hs.hotp, []) AS hotp
            FROM c LEFT JOIN hs ON c.doc_id = hs.doc_id),
          k AS (SELECT doc_id, toks,
            list_filter(generate_series(1, len(toks)), i ->
              len(list_filter(hotp, h -> h <= i AND i <= h + 4)) = 0) AS kept
            FROM j)
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
            coalesce(array_to_string(list_transform(kept, i -> toks[i]), ' '), '')
              AS clean_text
          FROM k""",
    "q73_dedup_drop_list" ->
      s"""WITH RECURSIVE pairs AS ($q21Sql),
          e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                UNION SELECT doc2, doc1 FROM pairs),
          n AS (SELECT DISTINCT src AS node FROM e),
          r AS (SELECT node, node AS lbl FROM n
                UNION
                SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node)
          SELECT node AS doc_id, min(lbl) AS keep_doc_id
          FROM r GROUP BY node HAVING node != min(lbl)""",
    "q22_bigram_jaccard" ->
      s"""SELECT * FROM (WITH t AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          t1 AS (SELECT doc_id,
            list_distinct(CASE WHEN len(codes) >= 2
              THEN list_transform(generate_series(1, len(codes) - 1),
                     i -> (codes[i] * 131 + codes[i + 1]) % $P)
              ELSE [] END) AS bg
          FROM t),
          t2a AS (SELECT doc_id, bg,
            list_min(list_transform(bg, c -> (c * 3 + 1) % $P)) AS k1,
            list_min(list_transform(bg, c -> (c * 5 + 8) % $P)) AS k2
          FROM t1),
          t2 AS (SELECT doc_id, bg, k1, k2 FROM (
            SELECT *, count(*) OVER (PARTITION BY k1, k2) AS bsz FROM t2a)
            WHERE bsz <= 500)
          SELECT l.doc_id AS doc1, r.doc_id AS doc2,
            floor((CAST(len(list_intersect(l.bg, r.bg)) AS DOUBLE)
              / CAST(len(list_distinct(list_concat(l.bg, r.bg))) AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
          FROM t2 l JOIN t2 r ON l.k1 = r.k1 AND l.k2 = r.k2
          WHERE l.doc_id < r.doc_id) WHERE jaccard >= 0.1""",
    "q61_token_families" -> {
      val pat = """''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""
      s"""SELECT doc_id,
            CAST(len($toksExpr) AS BIGINT) AS n_ws_tokens,
            CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_bpe_tokens,
            floor(CAST(length(text) AS DOUBLE)
              / CAST(nullif(len(regexp_extract_all(text, '$pat')), 0) AS DOUBLE)
              * 10000 + 0.5) / 10000 AS chars_per_bpe_token
          FROM documents"""
    },
    "q62_doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
          t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
          t3 AS (SELECT doc_id, toks, generate_series(1, len(toks), 15) AS starts FROM t2)
          SELECT doc_id,
            CAST(i - 1 AS BIGINT) AS chunk_idx,
            array_to_string(toks[starts[i]:least(starts[i] + 19, len(toks))], ' ') AS chunk_text,
            CAST(least(len(toks) - starts[i] + 1, 20) AS BIGINT) AS n_chunk_tokens
          FROM t3, UNNEST(generate_series(1, len(starts))) AS u(i)""",
    "q63_sequence_packing" ->
      s"""WITH RECURSIVE d AS (
           SELECT lang, doc_id // $Q63_SHARD AS shard, doc_id,
             CAST(coalesce(len(list_filter(string_split(text, ' '), t -> t != '')), 0) AS BIGINT) AS n_tok,
             row_number() OVER (PARTITION BY lang, doc_id // $Q63_SHARD
               ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT lang, shard, doc_id, n_tok, rn, CAST(0 AS BIGINT) AS bin, n_tok AS fill
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.lang, d.shard, d.doc_id, d.n_tok, d.rn,
             CASE WHEN p.fill + d.n_tok <= 64 THEN p.bin ELSE p.bin + 1 END,
             CASE WHEN p.fill + d.n_tok <= 64 THEN p.fill + d.n_tok ELSE d.n_tok END
           FROM p JOIN d ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1)
         SELECT lang, shard, bin, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum, min(doc_id) AS first_doc
         FROM p GROUP BY lang, shard, bin""",
    "q69_dup_ngrams" ->
      s"""WITH $shingleCtes
          SELECT code, count(*) AS n_docs
          FROM (SELECT doc_id, unnest(tset) AS code FROM t)
          GROUP BY code HAVING count(*) >= 2
          ORDER BY n_docs DESC, code LIMIT 20""",
    "q66_decontaminate" ->
      s"""WITH $shingleCtes,
          b AS (SELECT doc_id, tset, (doc_id * 2654435761) % 100 AS bucket FROM t),
          tr AS (SELECT doc_id, unnest(tset) AS code FROM b WHERE bucket < 90),
          te AS (SELECT DISTINCT unnest(tset) AS code FROM b WHERE bucket >= 90)
          SELECT tr.doc_id, count(*) AS n_shared
          FROM tr JOIN te USING (code) GROUP BY tr.doc_id""",
    "q81_bloom_decontaminate" ->
      s"""WITH $shingleCtes,
          b AS (SELECT doc_id, tset, (doc_id * 2654435761) % 100 AS bucket FROM t),
          tr AS (SELECT doc_id, unnest(tset) AS code FROM b WHERE bucket < 80),
          te AS (SELECT DISTINCT unnest(tset) AS code FROM b WHERE bucket >= 80)
          SELECT tr.doc_id, count(*) AS n_shared
          FROM tr JOIN te USING (code) GROUP BY tr.doc_id""",
    "q67_repetition_filter" -> {
      val topTok = Num.rSql(
        "CAST(top_tok_freq AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
      val dist = Num.rSql(
        "CAST(n_distinct AS DOUBLE) / CAST(nullif(n_tokens, 0) AS DOUBLE)", 4)
      val topBig = Num.rSql(
        "CAST(top_bigram_freq AS DOUBLE) / CAST(nullif(n_tokens - 1, 0) AS DOUBLE)", 4)
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
          c AS (SELECT doc_id, toks,
            list_transform(generate_series(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i + 1]) AS bgs FROM t),
          m AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
            CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
              list_max(list_transform(list_distinct(toks),
                u -> len(list_filter(toks, x -> x = u)))) END AS BIGINT) AS top_tok_freq,
            CAST(CASE WHEN len(toks) < 2 THEN 0 ELSE
              list_max(list_transform(list_distinct(bgs),
                u -> len(list_filter(bgs, x -> x = u)))) END AS BIGINT) AS top_bigram_freq
          FROM c)
          SELECT *, (top_tok_ratio <= 0.2 AND distinct_ratio >= 0.3) AS keep
          FROM (SELECT doc_id, n_tokens, n_distinct, top_tok_freq, top_bigram_freq,
            $topTok AS top_tok_ratio, $dist AS distinct_ratio,
            $topBig AS top_bigram_ratio FROM m)"""
    },
    "q68_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_before FROM documents GROUP BY source),
         t AS (SELECT source, CAST(n_before AS BIGINT) AS n_before,
           CAST(sum(n_before) OVER () AS BIGINT) AS total,
           CAST(count(*) OVER () AS BIGINT) AS k FROM c),
         thr AS (SELECT source, n_before,
           CAST(least(1000, (total * 1000) // (k * n_before)) AS BIGINT) AS thr FROM t),
         s AS (SELECT d.source, d.doc_id, t2.n_before, t2.thr
               FROM documents d JOIN thr t2 USING (source)
               WHERE (d.doc_id * 2654435761 + 131) % 1000 < t2.thr)
         SELECT source, n_before, thr, count(*) AS n_sampled, min(doc_id) AS first_doc
         FROM s GROUP BY source, n_before, thr""",
    "q23_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, label, ${cosSql("embedding", "qvec")} AS cos
          FROM embeddings, q
          WHERE vec_id != 0
          ORDER BY cos DESC, vec_id ASC LIMIT 10""",
    "q24_ann_bucketed" ->
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
          q AS (SELECT embedding AS qvec, bucket FROM b WHERE vec_id = 0)
          SELECT b.vec_id, b.bucket, ${cosSql("b.embedding", "q.qvec")} AS cos
          FROM b JOIN q ON b.bucket = q.bucket
          WHERE b.vec_id != 0
          ORDER BY cos DESC, b.vec_id ASC LIMIT 5""",
    "q71_tfidf_keywords" -> {
      val idfR = Num.rSql("ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))", 4)
      s"""WITH c AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          e AS (SELECT doc_id, unnest(codes) AS code FROM c),
          tf AS (SELECT doc_id, code, count(*) AS tf FROM e GROUP BY doc_id, code),
          dft AS (SELECT code, count(*) AS df FROM tf GROUP BY code),
          nt AS (SELECT count(*) AS n FROM documents),
          s AS (SELECT tf.doc_id, tf.code,
              ${Num.rSql(s"CAST(tf AS DOUBLE) * ($idfR)", 4)} AS score
            FROM tf JOIN dft ON tf.code = dft.code CROSS JOIN nt)
          SELECT doc_id, CAST(rank AS BIGINT) AS rank, code, score FROM (
            SELECT doc_id, code, score,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, code) AS rank
            FROM s) WHERE rank <= 3"""
    },
    "q70_batch_ann" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
            FROM embeddings WHERE vec_id < 3),
          s AS (SELECT q.query_id, e.vec_id,
              ${cosSql("e.embedding", "q.qvec")} AS cos
            FROM embeddings e JOIN q ON e.vec_id != q.query_id)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
            SELECT query_id, vec_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, vec_id) AS rank
            FROM s) WHERE rank <= 5""",
    "q72_rp_lsh_topk" -> {
      // plane constants injected verbatim from Similarity.rpPlanes —
      // ±1 weights make each dot an exact signed sum, so both engines
      // classify buckets identically without rounding
      val planeSql = Similarity.rpPlanes(8, 64).zipWithIndex.map { case (pl, p) =>
        val plLit = pl.map(w => if (w > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum(list_transform(generate_series(1, 64),
           i -> CAST(embedding[i] AS DOUBLE) * ($plLit)[i])) > 0
           THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
      val flips = (0L +: Seq.tabulate(8)(j => 1L << j)).mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, $planeSql AS bucket FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qb
            FROM b WHERE vec_id < 3),
          pr AS (SELECT query_id, qvec, xor(qb, f) AS bucket
            FROM q, UNNEST(CAST($flips AS BIGINT[])) AS u(f)),
          s AS (SELECT pr.query_id, b.vec_id,
              ${cosSql("b.embedding", "pr.qvec")} AS cos
            FROM b JOIN pr USING (bucket) WHERE b.vec_id != pr.query_id)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, cos FROM (
            SELECT query_id, vec_id, cos,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, vec_id) AS rank
            FROM s) WHERE rank <= 5"""
    },
    "q25_embedding_near_dup" ->
      s"""SELECT * FROM (WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
          SELECT l.vec_id AS vec1, r.vec_id AS vec2,
            ${cosSql("l.embedding", "r.embedding")} AS cos
          FROM b l JOIN b r ON l.bucket = r.bucket
          WHERE l.vec_id < r.vec_id) WHERE cos >= 0.3""",
    "q80_dedup_keep_longest" ->
      s"""WITH RECURSIVE pairs AS ($q21Sql),
          e AS (SELECT doc1 AS src, doc2 AS dst FROM pairs
                UNION SELECT doc2, doc1 FROM pairs),
          n AS (SELECT DISTINCT src AS node FROM e),
          r AS (SELECT node, node AS lbl FROM n
                UNION
                SELECT e.dst AS node, r.lbl FROM r JOIN e ON e.src = r.node),
          comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node),
          sized AS (SELECT c.node, c.component, d.n_chars
                    FROM comp c JOIN documents d ON d.doc_id = c.node),
          k AS (SELECT component, node AS keep_doc_id FROM (
              SELECT component, node, row_number() OVER (
                PARTITION BY component ORDER BY n_chars DESC, node) AS rn
              FROM sized) WHERE rn = 1)
          SELECT s.node AS doc_id, k.keep_doc_id
          FROM sized s JOIN k USING (component) WHERE s.node != k.keep_doc_id""",
    "q77_pii_redact" ->
      s"""WITH p AS (SELECT doc_id,
            text || ' contact u' || doc_id || '@ex.com from 10.'
              || (doc_id % 250) || '.' || ((doc_id * 7) % 250) || '.9 tel '
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 2 = 0 THEN ' and admin@ex.org' ELSE '' END
              AS pii_text
          FROM documents)
          SELECT doc_id,
            CAST(len(regexp_extract_all(pii_text, '${Pii.EmailPat}')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(pii_text, '${Pii.Ipv4Pat}')) AS BIGINT) AS n_ips,
            CAST(len(regexp_extract_all(pii_text, '${Pii.PhonePat}')) AS BIGINT) AS n_phones,
            regexp_replace(regexp_replace(regexp_replace(pii_text,
              '${Pii.EmailPat}', '<EMAIL>', 'g'),
              '${Pii.Ipv4Pat}', '<IP>', 'g'),
              '${Pii.PhonePat}', '<PHONE>', 'g') AS red_text
          FROM p""",
    "q78_snapshot_diff" -> {
      val fpSql = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        ${codesExpr(toksExpr)}), (a, c) -> (a * 131 + c) % $P)"""
      s"""WITH v2t AS (
            SELECT doc_id,
              CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 17 != 0
            UNION ALL
            SELECT doc_id + 1000000000000 AS doc_id, text || ' new' AS text
            FROM documents WHERE doc_id % 23 = 0),
          v1 AS (SELECT doc_id, $fpSql AS fp FROM documents),
          v2 AS (SELECT doc_id, $fpSql AS fp FROM v2t),
          j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
              CASE WHEN v1.doc_id IS NULL THEN 'added'
                   WHEN v2.doc_id IS NULL THEN 'removed'
                   WHEN v1.fp != v2.fp THEN 'changed'
                   ELSE 'unchanged' END AS status
            FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
          SELECT doc_id, status FROM j WHERE status != 'unchanged'"""
    },
    "q79_inverted_index" ->
      s"""WITH c AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          b AS (SELECT doc_id, list_distinct(CASE WHEN len(codes) >= 2
            THEN list_transform(generate_series(1, len(codes) - 1),
                   i -> (codes[i] * 131 + codes[i + 1]) % $P)
            ELSE [] END) AS bgs FROM c),
          p AS (SELECT doc_id, unnest(bgs) AS code FROM b)
          SELECT code, count(*) AS df,
            array_to_string(list_sort(list(doc_id))[1:10], ',') AS post_sample
          FROM p GROUP BY code ORDER BY df DESC, code LIMIT 20""",
    "q82_vocab_coverage" ->
      s"""WITH c AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          e AS (SELECT doc_id, unnest(codes) AS code FROM c),
          v AS (SELECT code, 1 AS in_vocab FROM (
              SELECT code, count(*) AS cnt FROM e GROUP BY code
              ORDER BY cnt DESC, code LIMIT 20)),
          s AS (SELECT e.doc_id, count(*) AS n_tokens,
              sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM e LEFT JOIN v ON e.code = v.code GROUP BY e.doc_id)
          SELECT doc_id, n_tokens, CAST(n_oov AS BIGINT) AS n_oov,
            ${Num.rSql("CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)}
              AS oov_ratio
          FROM s""",
    // bigrams keyed EXACTLY by the (a, b) code pair (round 8; the old
    // single-value (a*131+b) % P key conflates distinct bigrams at
    // ~1e9-bigram scale — and the oracle mirrored the same hash, so the
    // gate could never see the collisions)
    "q83_bigram_lm_score" ->
      s"""WITH c AS (SELECT doc_id, ${codesExpr(toksExpr)} AS codes FROM documents),
          pr AS (SELECT doc_id, codes[i] AS a, codes[i + 1] AS b
            FROM c, UNNEST(generate_series(1, len(codes) - 1)) AS u(i)),
          ca AS (SELECT a, count(*) AS c_a FROM pr GROUP BY a),
          cab AS (SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b),
          v AS (SELECT count(DISTINCT code) AS vs
                FROM (SELECT unnest(codes) AS code FROM c)),
          sc AS (SELECT pr.doc_id,
              CAST(floor(ln((c_ab + 1.0) / (c_a + vs)) * 10000 + 0.5) AS BIGINT) AS lp4
            FROM pr JOIN cab ON pr.a = cab.a AND pr.b = cab.b
                    JOIN ca ON pr.a = ca.a CROSS JOIN v),
          s AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp4) AS s4 FROM sc
                GROUP BY doc_id)
          SELECT doc_id, n_bigrams,
            ${Num.rSql("CAST(-s4 AS DOUBLE) / (n_bigrams * 10000.0)", 4)} AS avg_nll
          FROM s""",
    "q84_cluster_profile" ->
      s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec
            FROM embeddings WHERE vec_id < 8),
          s AS (SELECT e.vec_id, c.cell, ${cosSql("e.embedding", "c.cvec")} AS cos
                FROM embeddings e CROSS JOIN cents c),
          a AS (SELECT vec_id, cell, cos FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn FROM s)
            WHERE rn = 1)
          SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_vec,
            ${Num.rSql(
              "CAST(sum(CAST(floor(cos * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)" +
                " / (count(*) * 1000000.0)", 6)} AS avg_cos
          FROM a GROUP BY cell""",
    "q85_corpus_report" -> {
      val ttr = Num.rSql(
        "CAST(top_tok_freq AS DOUBLE) / CAST(nullif(nt, 0) AS DOUBLE)", 4)
      val dr = Num.rSql(
        "CAST(nd AS DOUBLE) / CAST(nullif(nt, 0) AS DOUBLE)", 4)
      s"""WITH t AS (SELECT doc_id, text, lang, $toksExpr AS toks FROM documents),
          base AS (SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
            CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM t),
          lc AS (SELECT lang, count(*) AS nl FROM documents GROUP BY lang),
          ent AS (SELECT sum(nl * CAST(floor(ln(CAST(nl AS DOUBLE) / b.n_docs)
            * 10000 + 0.5) AS BIGINT)) AS s4 FROM lc, base b),
          m AS (SELECT CAST(len(toks) AS BIGINT) AS nt,
              CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
              CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
                list_max(list_transform(list_distinct(toks),
                  u -> len(list_filter(toks, x -> x = u)))) END AS BIGINT)
                AS top_tok_freq
            FROM t),
          k AS (SELECT count(*) AS n_keep FROM (
              SELECT $ttr AS ttr, $dr AS dr FROM m)
            WHERE ttr <= 0.2 AND dr >= 0.3)
          SELECT b.n_docs, b.n_tokens,
            b.n_docs - b.n_distinct AS n_exact_dup_docs,
            ${Num.rSql("CAST(b.n_docs - b.n_distinct AS DOUBLE) / b.n_docs", 4)}
              AS dup_rate,
            ${Num.rSql("CAST(b.n_tokens AS DOUBLE) / b.n_docs", 4)}
              AS mean_doc_tokens,
            ${Num.rSql("CAST(-e.s4 AS DOUBLE) / (b.n_docs * 10000.0)", 4)}
              AS lang_entropy,
            ${Num.rSql("CAST(k.n_keep AS DOUBLE) / b.n_docs", 4)}
              AS quality_keep_rate
          FROM base b CROSS JOIN ent e CROSS JOIN k"""
    },
    "q86_rebalance_upsample" ->
      """WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
         f AS (SELECT lang, n_before,
             greatest(1, (SELECT max(n_before) FROM c) // n_before) AS factor
           FROM c),
         e AS (SELECT d.lang, f.n_before, f.factor, d.doc_id, u.rep
               FROM documents d JOIN f USING (lang),
                    UNNEST(generate_series(1, f.factor)) AS u(rep))
         SELECT lang, CAST(n_before AS BIGINT) AS n_before,
           CAST(factor AS BIGINT) AS factor, CAST(rep AS BIGINT) AS rep,
           count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM e GROUP BY lang, n_before, factor, rep""",
    "q87_token_budget_sample" ->
      s"""WITH t AS (SELECT lang, doc_id,
            (doc_id * 2654435761 + 17) % 1000000007 AS h,
            CAST(coalesce(len($toksExpr), 0) AS BIGINT) AS n_tok FROM documents),
          c AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY h) AS cum
                FROM t)
          SELECT lang, count(*) AS n_kept, CAST(max(cum) AS BIGINT) AS tok_sum,
            min(doc_id) AS min_doc
          FROM c WHERE cum <= 2000 GROUP BY lang""",
    "q26_multimodal_features" ->
      """SELECT doc_id AS media_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS head_byte,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) % 65536 AS BIGINT) AS byte_sum_mod,
           'unknown' AS format,
           CAST(octet_length(CAST(text AS BLOB)) % 640 AS INTEGER) AS feat_width,
           CAST(octet_length(CAST(text AS BLOB)) % 480 AS INTEGER) AS feat_height,
           CAST(0 AS INTEGER) AS sample_rate,
           CAST(0 AS INTEGER) AS channels
         FROM documents""",
    "q99_nfc_report" ->
      """SELECT doc_id,
           CAST(length(nfc_normalize(coalesce(text, ''))) AS BIGINT)
             AS n_chars_nfc,
           nfc_normalize(coalesce(text, '')) != coalesce(text, '') AS changed
         FROM documents""",
    "q98_embedding_outliers" ->
      s"""WITH v AS (SELECT vec_id, label,
            list_transform(embedding,
              -- CAST first: FLOAT * DECIMAL-literal runs in float32 in
              -- DuckDB (DECIMAL loses to FLOAT in its promotion order)
              x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS vm
          FROM embeddings),
          m AS (SELECT label, i AS dim,
            CAST(floor(CAST(sum(vm[i]) AS DOUBLE) / count(*) + 0.5)
              AS BIGINT) AS cmicro
          FROM v, (SELECT unnest(generate_series(1, 64)) AS i) g
          GROUP BY 1, 2),
          c AS (SELECT label, array_agg(cmicro ORDER BY dim) AS cm
            FROM m GROUP BY label)
          SELECT vec_id, label, cos_centroid, cos_centroid < 0.0 AS is_outlier
          FROM (SELECT v.vec_id, v.label,
              ${Num.rSql(
                """CAST(list_sum(list_transform(generate_series(1, 64), i -> vm[i] * cm[i])) AS DOUBLE) /
                   (sqrt(CAST(list_sum(list_transform(generate_series(1, 64), i -> vm[i] * vm[i])) AS DOUBLE)) *
                    sqrt(CAST(list_sum(list_transform(generate_series(1, 64), i -> cm[i] * cm[i])) AS DOUBLE)))""",
                6)} AS cos_centroid
            FROM v JOIN c USING (label))""",
    "q96_media_decode" ->
      """SELECT doc_id AS media_id,
           CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' ELSE 'unknown' END AS format,
           CAST(CASE WHEN doc_id % 5 IN (0, 1, 2) THEN 16 + doc_id % 600
                WHEN doc_id % 5 = 3 THEN 0
                ELSE octet_length(CAST(coalesce(text, '') AS BLOB)) % 640
                END AS INTEGER) AS feat_width,
           CAST(CASE WHEN doc_id % 5 IN (0, 1, 2) THEN 16 + doc_id % 440
                WHEN doc_id % 5 = 3 THEN 0
                ELSE octet_length(CAST(coalesce(text, '') AS BLOB)) % 480
                END AS INTEGER) AS feat_height,
           CAST(CASE WHEN doc_id % 5 = 3 THEN 8000 + (doc_id % 8) * 1000
                ELSE 0 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 5 = 3 THEN 1 + doc_id % 2
                ELSE 0 END AS INTEGER) AS channels
         FROM documents""",
    "q102_bm25" -> Bm25Oracle,
    // the SQL table function must land on the Scala gate's answer
    // exactly — ONE oracle string, two consumers (q111's discipline)
    "q118_bm25_sql" -> Bm25Oracle,
    // the point-lookup fast path lands on the q102 answer too
    "q121_bm25_lookup_single" -> Bm25Oracle,
    // …and so must its pre-built-export serve twin
    "q124_bm25_single_served" -> Bm25Oracle,
    "q105_bm25_batch" ->
      s"""$bm25BatchRkCtes
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
          FROM rk WHERE rank <= 10""",
    // the serving decomposition must land on the batch answer exactly
    // (union of disjoint per-batch servings == one batch run), so the
    // oracle IS the q105 chain via the same shared builder
    "q110_bm25_serving" ->
      s"""$bm25BatchRkCtes
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
          FROM rk WHERE rank <= 10""",
    // the disk-export point-lookup path must also land on the batch
    // answer — same shared chain
    "q120_bm25_lookup" ->
      s"""$bm25BatchRkCtes
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
          FROM rk WHERE rank <= 10""",
    // …and its pre-built-export serve twin
    "q123_bm25_lookup_served" ->
      s"""$bm25BatchRkCtes
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
          FROM rk WHERE rank <= 10""",
    // the q105 chain verbatim (shared builder), its top-10 as the
    // lexical system, a 20-doc length prior attached per query, and
    // the exact integer-scaled RRF sum — mirroring Retrieval.rrfFuse
    "q107_hybrid_rrf" -> {
      def s8(src: String) =
        s"""SELECT query_id, doc_id,
            CAST(floor(${graft.ext.Retrieval.RrfScale}.0 /
              (${graft.ext.Retrieval.RrfC}.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS s8
            FROM $src"""
      s"""$bm25BatchRkCtes,
          lex AS (SELECT query_id, rank, doc_id FROM rk WHERE rank <= 10),
          t20 AS (SELECT doc_id, coalesce(n_chars, 0) AS nc FROM documents
            ORDER BY nc DESC, doc_id ASC LIMIT 20),
          pri0 AS (SELECT doc_id,
            row_number() OVER (ORDER BY nc DESC, doc_id ASC) AS rank FROM t20),
          pri AS (SELECT q.query_id, p.rank, p.doc_id FROM q CROSS JOIN pri0 p),
          allc AS (${s8("lex")} UNION ALL ${s8("pri")}),
          fs AS (SELECT query_id, doc_id, CAST(sum(s8) AS BIGINT) AS rrf_s8
            FROM allc GROUP BY query_id, doc_id),
          fr AS (SELECT query_id, doc_id, rrf_s8, row_number() OVER (
              PARTITION BY query_id ORDER BY rrf_s8 DESC, doc_id ASC) AS rank
            FROM fs)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_s8
          FROM fr WHERE rank <= 10"""
    },
    // null-safe toks (coalesce text like the Spark side's coalesce over
    // tokenCodesOf) — without it a NULL-text row yields NULL n_tokens
    // here vs 0 in Spark (the q87 symmetric-coalesce precedent)
    "q103_vocab_richness" ->
      s"""WITH c AS (SELECT doc_id, list_sort(codes) AS srt
            FROM (SELECT doc_id, ${codesExpr(
              "list_filter(string_split(coalesce(text, ''), ' '), t -> t != '')")} AS codes
            FROM documents)),
          s AS (SELECT doc_id, srt,
              CAST(len(srt) AS BIGINT) AS n_tokens,
              CAST(len(list_distinct(srt)) AS BIGINT) AS n_types
            FROM c),
          h AS (SELECT doc_id, n_tokens, n_types,
              CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE
                len(list_filter(generate_series(1, n_tokens), i ->
                  (i = 1 OR srt[i] != srt[i-1]) AND
                  (i = n_tokens OR srt[i] != srt[i+1])))
                END AS BIGINT) AS n_hapax
            FROM s)
          SELECT doc_id, n_tokens, n_types, n_hapax,
            CASE WHEN n_tokens > 0 THEN
              ${Num.rSql("CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)}
            END AS ttr,
            CASE WHEN n_tokens > 0 THEN
              ${Num.rSql("CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)}
            END AS hapax_ratio
          FROM h""",
    // resizeKernel replay: out pixel i (row-major 8×6) reads source
    // char (sy*w + sx) mod len, sy = (i//8)*h//6, sx = (i%8)*w//8 —
    // pure integer arithmetic on both engines; string compare rides the
    // ASCII-corpus precedent of q48.
    "q104_resize" ->
      """WITH m AS (SELECT doc_id AS media_id,
            coalesce(text, '') AS t,
            CAST(coalesce(n_chars, 0) % 640 AS INTEGER) AS w,
            CAST(coalesce(n_chars, 0) % 480 AS INTEGER) AS h,
            octet_length(CAST(coalesce(text, '') AS BLOB)) AS len
          FROM documents)
         SELECT media_id, w AS src_width, h AS src_height,
           CASE WHEN w > 0 AND h > 0 AND len > 0 THEN
             array_to_string(list_transform(generate_series(0, 47), i ->
               substring(t,
                 CAST((((i // 8) * h // 6) * w + ((i % 8) * w // 8)) % len + 1
                   AS INTEGER), 1)), '')
           END AS resized
         FROM m""",
  )
}
