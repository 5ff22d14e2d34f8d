package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical top-k search — the sparse-retrieval complement to the
  * [[Ann]] family (a training-data pipeline needs BOTH: dense ANN for
  * semantic neighbors, lexical relevance for decontamination probes,
  * more-like-this expansion, and hybrid fusion — see [[Fusion]]).
  *
  * Shape, not a search server: one corpus scan builds query-vocabulary
  * postings (the inverted-index join), corpus statistics ride a
  * broadcast one-row frame, and the per-term BM25 contributions are
  * rounded to integer micro-units BEFORE the per-document sum — so the
  * grouped aggregation is order-independent (bit-stable under any
  * partitioning / AQE replan) and the DuckDB oracle can replay the
  * whole pipeline exactly. Top-k per query goes through the k-buffer
  * [[TopK]] aggregator (map-side partial top-k, shuffle ≤ k rows per
  * partition-group, no Window sort of the full candidate stream).
  *
  * Scale posture (100 TB corpus, query batch ≪ corpus):
  *  - ONE wide scan of the corpus (tokenize + explode); the explode is
  *    immediately semi-joined against the BROADCAST query vocabulary,
  *    so the postings shuffle carries only rows for terms someone
  *    asked about — ∝ matched postings, never ∝ corpus tokens.
  *  - document frequencies aggregate over that restricted postings
  *    frame (vocabulary-sized result, broadcast back).
  *  - nothing here collects to the driver; corpus scalars (N, Σdl)
  *    are a 1-row agg joined in by broadcast.
  *
  * Reference anchor: the reference's name/content search surface
  * (/root/reference/src/file_indexing_system.py:246-272) is exact
  * predicate match; ranked lexical relevance is part of the
  * LLM-pipeline mandate (curation/decontamination probes), scored with
  * the standard BM25 formulation (Robertson/Sparck Jones; the
  * ln(1 + (N-df+0.5)/(df+0.5)) idf is the Lucene-style positive form).
  */
object Bm25 {

  /** Analyzer: lowercase, maximal `[a-z0-9]+` runs. Deliberately the
    * simplest exactly-replayable analyzer (DuckDB twin:
    * `regexp_extract_all(lower(text), '[a-z0-9]+')` — see
    * [[graft.queries.SearchQueries]]); punctuation and unicode word
    * characters fall out, which is the right default for the synthetic
    * corpus and keeps the oracle byte-exact.
    */
  def analyze(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))), lit("[a-z0-9]+"), lit(0))

  /** Per-term BM25 contribution in integer micro-units. All operands
    * double, the expression TREE mirrored token-for-token by the oracle
    * SQL (IEEE ops are exactly rounded, so an identical tree is an
    * identical double; `ln` is the one libm call — boundary-safe after
    * the 1e6 rounding, verified empirically by the exact-compare gate).
    *
    * The `greatest(…, 0.5)` clamp on the idf numerator is the
    * SERVING-SIDE degradation guard for the documented
    * [[addToLexIndex]] crash window (stats understated → a term can
    * reach df > N): without it the idf goes NEGATIVE and a matching
    * term SUBTRACTS from scores — rankings invert until
    * [[rebuildLexStats]] runs. With it, df > N degrades to the
    * smallest positive idf (the df = N boundary value), so a stale
    * sidecar skews scores but never inverts them. On CONSISTENT stats
    * df ≤ N always, the numerator is ≥ 0.5 by construction, and the
    * clamp is the identity — oracle-neutral (the DuckDB CTE mirrors
    * the same GREATEST; both are exact IEEE max ops).
    */
  private def contribMicro(
      tf: Column, df: Column, dl: Column,
      nDocs: Column, totalTokens: Column, k1: Double, b: Double): Column = {
    val tfD = tf.cast("double")
    val dfD = df.cast("double")
    val dlD = dl.cast("double")
    val nD = nDocs.cast("double")
    val avgdl = totalTokens.cast("double") / nD
    val idf = log(lit(1.0) + greatest(nD - dfD + lit(0.5), lit(0.5)) / (dfD + lit(0.5)))
    val tfn = tfD * (lit(k1) + lit(1.0)) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dlD / avgdl))
    round(idf * tfn * lit(1000000.0)).cast("long")
  }

  /** Top-k BM25 search: `queries` is a (qId, qText) batch — each query
    * is analyzed to a DISTINCT term set (bag-of-words weight 1, the
    * short-query convention), scored against `docs`, and the k best
    * documents per query returned as
    * `(q_id, doc_id, rank, score_micro)` with rank 1-based by
    * (score desc, doc_id asc). Documents sharing no term with a query
    * do not appear; a query with k' < k matches returns k' rows.
    *
    * The query batch is assumed bounded (it rides broadcast joins —
    * the same contract as the ANN probe frames); the corpus side is
    * unbounded. Plan note: the corpus is tokenized TWICE (the stats agg
    * and the postings pass) — both are narrow single-column scans, and
    * the serving deployment avoids both per-query via
    * [[buildLexIndex]]/[[queryLexIndex]] (postings materialized once,
    * stats in a sidecar).
    */
  def searchTopK(
      docs: DataFrame, docId: Column, text: Column,
      queries: DataFrame, qId: Column, qText: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // corpus scalars as a broadcast 1-row frame — keeps the operator
    // fully lazy (no driver action) and re-usable under one cache scope
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))
    // inverted-index postings, restricted to the query vocabulary AT
    // THE SCAN: the broadcast semi-join fires before the groupBy, so
    // only matched (term, doc) pairs ever shuffle
    val qt = queryTerms(queries, qId, qText)
    val post = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))
    scoreAndRank(post, qt, stats, k, k1, b)
  }

  /** (q_id, term) pairs of an analyzed query batch — distinct terms per
    * query (single owner with the index query path).
    */
  private def queryTerms(queries: DataFrame, qId: Column, qText: Column): DataFrame =
    queries.select(
      qId.as("q_id"), explode(array_distinct(analyze(qText))).as("term"))

  /** Shared scoring tail: postings (term, doc_id, dl, tf) × query
    * terms × 1-row stats → BM25 micro contributions → per-doc sums →
    * k-buffer top-k. df is derived FROM the postings (count per term),
    * which is what lets the persisted index skip storing it — a
    * term's whole posting list is always co-resident with the term.
    */
  /** The postings lake as a frame — with the empty-lake degenerate
    * case handled: a full retention purge (every bucket dir swapped
    * away) or a build over an all-empty-text corpus leaves the lake
    * with ZERO data files, and `spark.read.parquet` would throw at
    * schema inference rather than return empty — wedging serving AND
    * the stream-ingest dedupe leg ([[lexIndexIds]]) on a legitimately
    * empty index. An empty lake reads as an empty positional-postings
    * frame (doc_id long — the practical id type; a non-long-id corpus
    * cannot produce an EMPTY lake read that matters, since any real
    * row fixes the schema).
    */
  private def readPostingsLake(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    try spark.read.parquet(s"$path/postings")
    catch {
      // narrow to the zero-data-file conditions — a DIFFERENT analysis
      // failure (corrupt footer, foreign files) must throw, not read
      // as an empty index. Matched on the stable error condition, not
      // message text (single owner: Compact.emptyLakeRead).
      case e: org.apache.spark.sql.AnalysisException
          if graft.etl.Compact.emptyLakeRead(e) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("dl", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("positions",
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
            org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType))))
    }

  private def scoreAndRank(
      post: DataFrame, qt: DataFrame, stats: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    val dft = post.groupBy("term").agg(count(lit(1)).as("df"))
    val scores = post
      .join(broadcast(dft), "term")
      .join(broadcast(qt), "term")
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        contribMicro(col("tf"), col("df"), col("dl"),
          col("n_docs"), col("total_tokens"), k1, b).as("c_micro"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("c_micro")).as("score_micro"))
    rankTail(scores, "score_micro", k)
  }

  /** Per-query ranked-tail shared by the BM25 and phrase paths — the
    * [[Ann.topkPerQuery]] id discipline applied to
    * (q_id, doc_id, metric): the typed k-buffer aggregator buffers ids
    * as NON-NULLABLE longs, so a null doc_id (a null-id corpus row
    * whose term matched a query) must be excluded here rather than
    * crash an executor encoder, and a string/uuid id column must be
    * rejected loudly rather than silently cast. doc_id surfaces as
    * long (the buffer type), like every knn output.
    */
  private def rankTail(scored: DataFrame, metric: String, k: Int): DataFrame = {
    val idType = scored.schema("doc_id").dataType.simpleString
    require(Seq("tinyint", "smallint", "int", "bigint").contains(idType),
      s"lex ranking doc_id must be integral (got $idType); " +
        "map non-numeric ids to a surrogate long first")
    TopK.perGroup(
      scored.filter(col("doc_id").isNotNull && col(metric).isNotNull),
      Seq("q_id"), col(metric), col("doc_id"), k)
      .select(col("q_id"), col("id").as("doc_id"), col("rank"),
        col("metric").as(metric))
  }

  /** Exact-PHRASE top-k: documents containing the query phrase as
    * CONSECUTIVE analyzer tokens, ranked by occurrence count (desc,
    * doc_id asc). The classic positional-intersection, shaped as ONE
    * join + one groupBy instead of L−1 self-joins: phrase slot i
    * matching a document token at position pos implies the phrase
    * would START at `anchor = pos − i`, so grouping matches by
    * (query, doc, anchor) and demanding full slot cover
    * (`count == phrase_len`) finds every occurrence — including
    * overlapping ones and phrases with repeated terms — in time ∝
    * matched postings.
    *
    * Scale shape mirrors [[searchTopK]]: the positional explode is
    * semi-joined against the broadcast phrase vocabulary AT THE SCAN,
    * so only tokens some phrase mentions ever shuffle; the anchor
    * groupBy is ∝ those matches, never ∝ corpus tokens; k-buffer
    * top-k tail. The persisted serving path is [[queryPhraseIndex]]
    * (the positional postings of [[buildLexIndex]]) — same algebra,
    * shared verbatim via [[phraseRank]].
    */
  def phraseTopK(
      docs: DataFrame, docId: Column, text: Column,
      queries: DataFrame, qId: Column, qPhrase: Column, k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val qt = phraseSlots(queries, qId, qPhrase)
    val posToks = docs
      .select(docId.as("doc_id"), posexplode(analyze(text)).as(Seq("pos", "term")))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
    phraseRank(posToks, qt, k)
  }

  /** (q_id, i, term) phrase slots: 0-based slot index, duplicates kept
    * (a phrase may repeat a term — each slot must be covered
    * independently). Single owner with [[queryPhraseIndex]].
    */
  private def phraseSlots(queries: DataFrame, qId: Column, qPhrase: Column): DataFrame =
    queries.select(
      qId.as("q_id"), posexplode(analyze(qPhrase)).as(Seq("i", "term")))

  /** Shared anchor-intersection tail: positional tokens
    * (term, doc_id, pos) × phrase slots (q_id, i, term) → anchors →
    * full-cover occurrences → per-doc counts → k-buffer top-k. Rows
    * are unique per (q_id, doc_id, anchor, i) by construction ((doc,
    * pos) holds ONE term; (q, i) is one slot), so the cover count is
    * the number of matched slots at that anchor — the arithmetic is
    * IDENTICAL whether posToks came from a live corpus tokenize
    * ([[phraseTopK]]) or an exploded positional postings read
    * ([[queryPhraseIndex]]), which is what makes index ≡ one-shot
    * bit-exact (spec-pinned, r05 oracle).
    */
  private def phraseRank(posToks: DataFrame, qt: DataFrame, k: Int): DataFrame = {
    val qlen = qt.groupBy("q_id").agg(count(lit(1)).as("phrase_len"))
    val occurrences = posToks.join(broadcast(qt), "term")
      .select(col("q_id"), col("doc_id"), (col("pos") - col("i")).as("anchor"))
      .groupBy("q_id", "doc_id", "anchor")
      .agg(count(lit(1)).as("cover"))
      .join(broadcast(qlen), "q_id")
      .filter(col("cover") === col("phrase_len") && col("anchor") >= 0)
    val counts = occurrences.groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_occ"))
    rankTail(counts, "n_occ", k)
  }

  /** Exact-phrase top-k SERVED FROM the persisted positional index —
    * bit-identical to [[phraseTopK]] over the same corpus (the anchor
    * algebra is [[phraseRank]] in both; only the provenance of the
    * (term, doc_id, pos) stream differs), but the per-batch cost is a
    * partition-pruned read of the phrase vocabulary's bucket
    * directories instead of a corpus re-tokenize — the serving path
    * the round-7 plan audit flagged as the one retrieval verb without
    * an index. The positions column is exploded only AFTER the bucket
    * prune and vocabulary semi-join, so the explode is ∝ matched
    * postings' occurrence counts, never ∝ the lake.
    *
    * Requires a positional index (built by this round's
    * [[buildLexIndex]]); a pre-positional postings lake fails loudly
    * with a rebuild instruction rather than serving wrong anchors.
    */
  def queryPhraseIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qPhrase: Column, k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    // same serving-side crash guard as queryLexIndex: a parked tree
    // with files means a bucket's only copy sits outside the lake
    graft.etl.Compact.requireServable(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    val qt = Dedup.scopedCache(phraseSlots(queries, qId, qPhrase))
    // bounded driver collect (≤ distinct phrase terms): the pruning list
    val buckets = qt
      .select(bucketOf(col("term"), nBuckets).as("bucket")).distinct()
      .collect().map(_.getInt(0))
    val post = readPostingsLake(spark, path)
    require(post.columns.contains("positions"),
      s"$path/postings has no positions column (pre-positional index) -- " +
        "rebuild with buildLexIndex to serve phrase queries")
    val posToks = post
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
      .select(col("term"), col("doc_id"), explode(col("positions")).as("pos"))
    phraseRank(posToks, qt, k)
  }

  /** Term → posting-bucket assignment (pmod of the 64-bit term hash):
    * the partition key of the persisted index. Deterministic, so the
    * query path prunes to exactly the buckets its vocabulary hashes
    * into.
    */
  private def bucketOf(term: Column, nBuckets: Int): Column =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** Build a persisted lexical (BM25 + exact-phrase) index at `path`:
    * the serving shape for repeated search over a corpus that one-shot
    * [[searchTopK]]/[[phraseTopK]] would re-scan per query batch.
    *
    * Layout:
    *  - `path/postings` — (term, doc_id, dl, tf, positions) parquet,
    *    PARTITIONED by `bucket` = hash(term) mod nBuckets: a query
    *    reads only the bucket directories its vocabulary hashes into
    *    (partition pruning — the same property that makes the IVF
    *    index queryable without scanning it). df is NOT stored: a
    *    term's full posting list lives in its bucket, so the query
    *    derives df by counting — which is also what makes
    *    [[addToLexIndex]] append-only. `positions` is the sorted
    *    0-based token-position array of the term in the doc — the
    *    POSITIONAL payload that lets [[queryPhraseIndex]] serve
    *    exact-phrase queries from the index (parquet is columnar, so
    *    BM25 serving never reads the positions column — Catalyst
    *    prunes it from the scan).
    *  - `path/stats` — 1-row (n_docs, total_tokens) sidecar, the
    *    BM25 corpus scalars (the codebook-sidecar pattern).
    *  - `path/empty` — (doc_id) membership record of ZERO-TOKEN docs:
    *    an indexed-empty doc contributes to n_docs but leaves no
    *    postings, so without this record [[removeFromLexIndex]] could
    *    not distinguish "indexed empty" from "never indexed" and had
    *    to trust caller-supplied empty text (the round-7 ADVICE
    *    hazard: a never-indexed empty-text victim decremented N).
    *    With it, every stats decrement is PROVEN against the index.
    *
    * Build cost: TWO narrow tokenize passes over the corpus (the
    * postings write and the stats agg are separate jobs; caching the
    * tokenized frame is wrong at 100 TB) — a one-time cost the
    * partition-pruned query path then amortizes forever. `nBuckets`
    * sizes partitions to the cluster (default 64; a 100 TB corpus with
    * ~10^7-term vocabulary wants enough buckets that one bucket's
    * postings fit an executor comfortably — same sizing contract as
    * packShards' nBuckets).
    */
  def buildLexIndex(
      docs: DataFrame, docId: Column, text: Column, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // postings first, stats sidecar LAST: the sidecar is the
    // index-complete marker (same crash-ordering contract as the ANN
    // codebook sidecar — queryLexIndex fails loudly on a missing stats
    // dir, never serves a half-written index silently). For an
    // IN-PLACE REBUILD the OLD sidecar must stop being a valid marker
    // FIRST: a crash after the postings overwrite would otherwise
    // serve the new postings with stale stats (or a stale nBuckets,
    // pruning the wrong bucket dirs entirely) — delete it before
    // touching the lake so every crash window refuses loudly.
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val buildFs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    buildFs.delete(statsPath, true)
    // an in-place rebuild supersedes any crashed remove: its intent
    // belongs to the OLD index generation — replaying it against the
    // new postings would remove docs the caller just (re)indexed
    buildFs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent"), true)
    buildFs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent__tmp"), true)
    positionalPostings(toks, nBuckets)
      // cluster by the partition key before the write (the removal
      // rewrite's writeShards discipline, round-15 extended to the
      // build/add paths): a bare partitionBy writes tasks × buckets
      // fragment files per pass — the decay compactPostings heals,
      // paid on every build instead of never
      .transform(IndexLake.clusterForWrite("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(s"$path/postings")
    // the empty-members write and the stats rollup both consume only
    // (doc_id, dl) — cache that 16-byte-per-doc projection so the
    // corpus is TOKENIZED twice per build (postings + this), not three
    // times (the narrow cache is safe at any corpus scale; caching the
    // full tokenized frame would not be)
    val dlF = toks.select(col("doc_id"), col("dl")).cache()
    try {
      writeEmptyMembers(spark, path,
        dlF.filter(col("dl") === 0).select("doc_id"), overwrite = true)
      writeStatsSidecar(spark, path,
        dlF.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_tokens"))
          .head(), nBuckets)
    } finally dlF.unpersist()
  }

  /** (term, doc_id, dl, tf, positions, bucket) postings of a tokenized
    * frame — single owner of the posting shape for build and add.
    * Positions are sorted per (term, doc) so the lake is deterministic
    * under any shuffle order.
    */
  private def positionalPostings(toks: DataFrame, nBuckets: Int): DataFrame =
    toks
      .select(col("doc_id"), col("dl"), posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))

  /** Append new documents to a persisted [[buildLexIndex]] index:
    * because df is derived at query time and postings are keyed by the
    * deterministic term-hash bucket, an add is a pure APPEND of the
    * increment's postings plus a stats-sidecar refresh — no rewrite,
    * no re-fit, build(even)+add(odd) ≡ build(all) (spec-pinned).
    * Caller contract: increment doc_ids must be NEW (a re-added id
    * would double its postings — same caller contract as
    * [[Ann.addToIvfIndex]]). Not transactional (same caveat as the ANN
    * adds): a crash between the posting append and the sidecar refresh
    * leaves stats UNDERSTATED relative to postings — a term appearing
    * in more increment docs than the stale N can reach df > N, whose
    * idf goes negative and SUBTRACTS from scores. Repair with
    * [[rebuildLexStats]] over the full corpus (do NOT re-run the add:
    * the appended postings are already on disk and would double).
    */
  def addToLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column): Unit = {
    // a crashed remove's pending intent is completed FIRST — the add's
    // relative stats refresh must start from converged numbers
    resumePendingRemove(spark, path)
    // a parked crashed-swap tree may hold a bucket's ONLY copy;
    // appending over the recreated dir would make the documented
    // rename-back recovery collide with freshly-added rows (and the
    // sidecar would already count them) — the same guard every other
    // mutation and both query verbs apply
    val addTarget = new org.apache.hadoop.fs.Path(s"$path/postings")
    graft.etl.Compact.requireServable(
      addTarget.getFileSystem(spark.sparkContext.hadoopConfiguration),
      addTarget, action = "adding to")
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    positionalPostings(toks, nBuckets)
      .transform(IndexLake.clusterForWrite("bucket")) // clustered append (see build)
      .write.partitionBy("bucket").mode("append").parquet(s"$path/postings")
    // one tokenize pass for empty-members + stats, not two (see build)
    val dlF = toks.select(col("doc_id"), col("dl")).cache()
    try {
      writeEmptyMembers(spark, path,
        dlF.filter(col("dl") === 0).select("doc_id"), overwrite = false)
      val inc = dlF.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
      writeStatsSidecar(spark, path,
        org.apache.spark.sql.Row(nDocs + inc.getLong(0), totalTokens + inc.getLong(1)),
        nBuckets)
    } finally dlF.unpersist()
  }

  /** Retention-delete documents from a persisted [[buildLexIndex]]
    * index — the lex twin of [[Ann.removeFromIvfIndex]], sharing its
    * hazard discipline:
    *
    *  - victims are MATERIALIZED once ((doc_id, dl) — one
    *    increment-sized parquet) and every downstream job reads the
    *    copy: a nondeterministic caller plan (sample/limit/first-wins)
    *    could otherwise remove one victim set and decrement stats by
    *    another, silently diverging postings from the sidecar forever;
    *  - the rewrite is BUCKET-CONFINED, with the affected-bucket list
    *    derived from the INDEX ITSELF (a narrow (doc_id, bucket) scan
    *    joined to the victim ids, ≤ nBuckets driver rows) — NOT from
    *    the supplied victim text: text that drifted from what was
    *    indexed (edited source row, re-normalization) would miss
    *    buckets and leave ghost postings serving a retention-deleted
    *    document forever. Removing a handful of documents still
    *    rewrites a handful of bucket dirs, not the whole lake;
    *  - clustered `repartition(bucket)` before the partitioned write:
    *    one file per rewritten bucket, not one per task per bucket;
    *  - a per-bucket row-count gate (kept == read − victims) runs
    *    BEFORE any swap — a lossy rewrite aborts with the lake
    *    untouched;
    *  - a parked `__remove_old` tree with files is a crashed swap and
    *    blocks until recovered (the Compact rule) — never deleted
    *    blindly.
    *
    * ORDERING (deliberately opposite the ANN remove): bucket swaps
    * land FIRST, the decremented stats sidecar LAST. The ANN sidecar
    * holds ABSOLUTE per-cell occupancy recomputed from the rewrite, so
    * sidecar-first is retry-idempotent there; the lex stats are
    * RELATIVE decrements, so sidecar-first would double-decrement on
    * retry. The decrement itself is made crash-durable by a
    * WRITE-AHEAD INTENT (`path/remove_intent`, placed atomically via
    * tmp+rename BEFORE any mutation): the intent records the victim
    * ids and the ABSOLUTE post-remove stats, and is deleted only after
    * the sidecar lands. Every mutating verb (remove, add, rebuild,
    * compact) RESUMES a pending intent before doing its own work —
    * the resume replays the bucket rewrite (an anti-join over
    * already-clean buckets is a content no-op), the membership minus
    * (idempotent), and writes the intent's absolute stats (idempotent)
    * — so remove → crash in ANY window → retry converges to exactly
    * the one-remove state (spec-pinned), with no double-decrement and
    * no lost decrement. Queries do NOT resume (reads never mutate):
    * between the crash and the next mutating verb they serve with N
    * and Σdl overstated — idf INFLATES with N (ln is increasing in it)
    * and avgdl drifts, so scores are skewed but never hit the df > N
    * negative-idf corruption.
    *
    * STATS are decremented only for victims PROVEN against the index:
    * victims with postings count with their INDEXED dl (so drifted
    * victim text can mis-size nothing), and zero-token victims count
    * only if the `path/empty` membership record lists them (written by
    * build/add precisely because an indexed-empty doc's n_docs
    * membership is invisible to postings). Removing a never-indexed id
    * — empty text included — is thus a complete no-op, not a silent N
    * corruption (spec-pinned); the membership record is rewritten
    * minus the removed ids BEFORE the sidecar, so retrying a remove
    * after a crash-before-sidecar never double-decrements empty
    * victims either. Fallback for a pre-membership index (no
    * `path/empty` dir): the legacy trusted-empty-text behavior, with
    * its documented caveat that a never-indexed empty-text victim
    * skews stats until [[rebuildLexStats]].
    */
  def removeFromLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column): Unit =
    removeFromLexIndex(spark, path, docs, docId, text,
      crashBeforeStatsSidecar = false)

  /** Fault-injection overload for the crash-window specs: when
    * `crashBeforeStatsSidecar` is set the remove performs the bucket
    * swaps and the membership rewrite, then throws INSTEAD of writing
    * the stats sidecar — the exact window the write-ahead intent
    * exists to close. Production callers use the public overload.
    */
  private[graft] def removeFromLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column,
      crashBeforeStatsSidecar: Boolean): Unit = {
    resumePendingRemove(spark, path)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refused BEFORE the intent is written: a parked tree (this verb's
    // crashed swap, or a crashed compactLexIndex's) may hold a bucket's
    // only copy, and a rewrite against it would cement the loss
    IndexLake.requireRewritable(fs, target)
    val vicDir = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__remove_vic")
    fs.delete(vicDir, true)
    try {
      docs.select(docId.as("doc_id"), analyze(text).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .dropDuplicates("doc_id")
        .write.mode("overwrite").parquet(vicDir.toString)
      removeWithVictims(spark, path, target, spark.read.parquet(vicDir.toString),
        nDocs, totalTokens, nBuckets, crashBeforeStatsSidecar)
    } finally fs.delete(vicDir, true)
  }

  /** [[removeFromLexIndex]] after victim materialization: the
    * decrement (present victims + proven empty docs only), the intent,
    * then [[executeRemove]].
    */
  private def removeWithVictims(
      spark: org.apache.spark.sql.SparkSession, path: String,
      target: org.apache.hadoop.fs.Path, vic: DataFrame,
      nDocs: Long, totalTokens: Long, nBuckets: Int,
      crashBeforeStatsSidecar: Boolean): Unit = {
    val vicIds = vic.select("doc_id")
    // the victims' postings AS INDEXED — one narrow (doc_id, dl) scan
    // feeding the presence gate AND the token decrement (the INDEXED
    // dl, not the supplied text's: drifted victim text must not
    // mis-size Σdl; the affected buckets come from the index too, in
    // the leaf rewrite). The decrement is COMPUTED before any swap
    // (after the swaps this lazy scan would see every present victim
    // as absent) but WRITTEN last (see ORDERING):
    //  - victims PRESENT in the postings count with their indexed dl
    //    (every posting row of a doc carries the same dl — max is it);
    //  - victims ABSENT from the postings count only if the index's
    //    OWN empty-membership record lists them (indexed zero-token
    //    docs — see buildLexIndex's `path/empty`); on a pre-membership
    //    index the legacy fallback trusts caller-supplied empty text.
    //    The residual blind spot (either branch) is a doc indexed
    //    EMPTY whose source text later gained tokens: the caller's
    //    text is not consulted for membership, but the membership
    //    record IS — so with the record this case now counts
    //    correctly; only the legacy fallback retains the old
    //    rebuildLexStats-repairable skew.
    val present = spark.read.parquet(target.toString)
      .select("doc_id", "dl").join(vicIds, "doc_id")
      .groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val emptyVictims = readEmptyMembers(spark, path) match {
      case Some(members) =>
        members.join(vicIds, "doc_id").select(col("doc_id"), lit(0L).as("dl"))
      case None => // legacy index: no membership record to consult
        vic.filter(col("dl") === 0).select(col("doc_id"), col("dl"))
    }
    val countable = present.unionByName(
      emptyVictims
        .join(present.select("doc_id"), Seq("doc_id"), "left_anti"))
    val dec = countable.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
    // nothing indexed anywhere (no present victim means no posting to
    // rewrite either) → complete no-op: no intent, no writes
    if (dec.getLong(0) == 0) return
    // WRITE-AHEAD INTENT before any mutation (see ORDERING): victim
    // ids + the ABSOLUTE post-remove stats, so any crash window below
    // is resumable to exactly the one-remove state
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeRemoveIntent(spark, path, fs, vicIds,
      nDocs - dec.getLong(0), totalTokens - dec.getLong(1))
    executeRemove(spark, path, vicIds, nDocs - dec.getLong(0),
      totalTokens - dec.getLong(1), nBuckets, crashBeforeStatsSidecar)
  }

  /** The mutation tail shared by a live remove and an intent resume:
    * the bucket-confined leaf rewrite ([[IndexLake.rewriteLeaves]] —
    * affected buckets located from the index, per-bucket gate, swaps),
    * membership minus, ABSOLUTE stats sidecar, intent cleanup. Every
    * step is idempotent (the rewrite finds no victim in already-clean
    * buckets, the membership minus and the absolute sidecar write
    * converge), which is what makes the intent replayable from any
    * crash window.
    */
  private def executeRemove(
      spark: org.apache.spark.sql.SparkSession, path: String, vicIds: DataFrame,
      newNDocs: Long, newTotalTokens: Long, nBuckets: Int,
      crashBeforeStatsSidecar: Boolean): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an emptied bucket's dir disappears — queries prune by bucket
    // value, a missing dir reads as zero postings
    IndexLake.rewriteLeaves(spark, fs, target, "doc_id", "bucket", lit(true), vicIds)(_ => ())
    // membership record rewritten BEFORE the sidecar (see ORDERING);
    // re-derived here (not threaded in) so a resume replays it too —
    // minus of already-absent ids is skipped by the emptiness probe
    readEmptyMembers(spark, path).foreach { members =>
      if (!members.join(vicIds, "doc_id").isEmpty)
        rewriteEmptyMembersMinus(spark, path, vicIds)
    }
    if (crashBeforeStatsSidecar)
      throw new IllegalStateException(
        "injected crash before stats sidecar (test hook)")
    // stats sidecar LAST (see ORDERING) — ABSOLUTE values from the
    // intent, so replaying this write converges instead of compounding
    writeStatsSidecar(spark, path,
      org.apache.spark.sql.Row(newNDocs, newTotalTokens), nBuckets)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent"), true)
  }

  /** Atomically place the remove intent (`path/remove_intent`):
    * victim ids + absolute post-remove stats, written to a tmp dir and
    * renamed into place so the intent either fully exists or not at
    * all. A pre-existing intent cannot be present here — every
    * mutating verb resumes it first.
    */
  private def writeRemoveIntent(
      spark: org.apache.spark.sql.SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, vicIds: DataFrame,
      newNDocs: Long, newTotalTokens: Long): Unit = {
    import spark.implicits._
    val tmp = new org.apache.hadoop.fs.Path(s"$path/remove_intent__tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$path/remove_intent")
    fs.delete(tmp, true); fs.delete(dst, true)
    vicIds.write.parquet(s"$tmp/victims")
    Seq((newNDocs, newTotalTokens)).toDF("n_docs", "total_tokens")
      .coalesce(1).write.parquet(s"$tmp/stats")
    require(fs.rename(tmp, dst), s"could not place remove intent at $dst")
  }

  /** Complete a crashed remove from its write-ahead intent — called by
    * every MUTATING verb (remove/add/rebuild/compact) before its own
    * work; queries never resume (reads must not mutate, they serve the
    * documented overstated-stats window instead). A half-written
    * `remove_intent__tmp` (crash mid-intent-write) is dropped: nothing
    * was mutated yet, the caller's retry recomputes from scratch.
    */
  private[graft] def resumePendingRemove(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(s"$path/remove_intent")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/remove_intent__tmp"), true)
    if (!fs.exists(dst)) return
    val st = spark.read.parquet(s"$dst/stats").head()
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    // a crash MID-SWAP parks buckets at __remove_old — that still
    // blocks loudly inside the leaf rewrite (the intent cannot replay
    // a rewrite over a lake missing a bucket's only copy)
    executeRemove(spark, path, spark.read.parquet(s"$dst/victims").select("doc_id"),
      st.getLong(0), st.getLong(1), nBuckets, crashBeforeStatsSidecar = false)
  }

  /** The `path/empty` membership record, or None for a pre-membership
    * (legacy) index. A record DIRECTORY with no data files reads as
    * zero members — existence of the record, not of rows, is what
    * upgrades remove-accounting from trusted to proven.
    */
  private def readEmptyMembers(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/empty")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else if (IndexLake.listDataFiles(fs, p.toString).isEmpty)
      Some(spark.range(0).select(col("id").as("doc_id")))
    else Some(spark.read.parquet(p.toString).select("doc_id"))
  }

  /** Write (build/rebuild: overwrite via park-and-swap) or extend
    * (add: append) the empty-doc membership record. An APPEND to a
    * legacy index that has no record is deliberately skipped: creating
    * a partial record would "prove" the pre-record empty docs were
    * never indexed, which is worse than staying legacy (trusted-text
    * fallback) until [[rebuildLexStats]] migrates the index.
    */
  private def writeEmptyMembers(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, overwrite: Boolean): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$path/empty")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (overwrite) IndexLake.placeSidecar(fs, target, ids)
    else if (fs.exists(target)) ids.write.mode("append").parquet(target.toString)
  }

  /** Rewrite the membership record minus the removed ids (through the
    * sidecar swap — the new record derives from reading the old one, so
    * an in-place overwrite would truncate its own input).
    */
  private def rewriteEmptyMembersMinus(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vicIds: DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$path/empty")
    IndexLake.placeSidecar(target.getFileSystem(spark.sparkContext.hadoopConfiguration),
      target, readEmptyMembers(spark, path)
        .getOrElse(sys.error(s"$target vanished mid-remove"))
        .join(vicIds, Seq("doc_id"), "left_anti"))
  }

  /** Indexed-empty membership count, or None on a legacy
    * pre-membership index — the observability surface for
    * [[graft.pipeline.HtmlReport.indexInventory]]'s lex cards.
    */
  def lexEmptyDocCount(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] =
    readEmptyMembers(spark, path).map(_.count())

  /** Bounded observability read of a lex index: corpus scalars from
    * the 1-row stats sidecar plus the indexed-empty membership count
    * (None on a pre-record lake). SINGLE owner of the read shared by
    * the HTML inventory cards and the HTTP `/index/stats` endpoint —
    * the postings lake is never scanned.
    */
  case class LexIndexStats(
      nDocs: Long, totalTokens: Long, nBuckets: Int, indexedEmpty: Option[Long])

  def lexIndexStats(
      spark: org.apache.spark.sql.SparkSession, path: String): LexIndexStats = {
    // through readStatsSidecar, not an inline head(): the sidecar
    // reader owns the exactly-1-row validation (a corrupted/duplicated
    // sidecar must fail loudly on the observability surface too, not
    // report whichever row head() happens to return)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    LexIndexStats(nDocs, totalTokens, nBuckets, lexEmptyDocCount(spark, path))
  }

  /** Every doc_id the index currently serves: postings members plus
    * the indexed-empty docs. The id surface for exactly-once stream
    * ingest ([[graft.streaming.Streams.indexIngest]]'s dedup leg) —
    * a NARROW id-only column scan of the postings lake, nothing else
    * read.
    */
  def lexIndexIds(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val posted = readPostingsLake(spark, path).select("doc_id")
    readEmptyMembers(spark, path)
      .map(m => posted.unionByName(m)).getOrElse(posted)
      .distinct()
  }

  /** Rebuild the stats sidecar — and the empty-doc membership record —
    * from the CURRENT full corpus: the universal repair for any crash
    * window that left postings and stats inconsistent
    * ([[addToLexIndex]]'s append-then-refresh,
    * [[removeFromLexIndex]]'s swap-then-decrement), and the MIGRATION
    * verb for a legacy pre-membership index (the rebuilt record
    * upgrades its remove-accounting from trusted to proven). One
    * narrow tokenize pass; postings untouched.
    */
  def rebuildLexStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      docs: DataFrame, docId: Column, text: Column): Unit = {
    // finish a crashed remove first: rebuilding over un-replayed
    // victim postings would bless the pre-remove state while the
    // pending intent still promises their removal
    resumePendingRemove(spark, path)
    val (_, _, nBuckets) = readStatsSidecar(spark, path)
    val toks = docs
      .select(docId.as("doc_id"), analyze(text).as("toks"))
      // a repair verb must not import the caller's dirt: a corpus frame
      // with duplicated doc rows (join fan-out) would inflate the very
      // stats it exists to fix
      .dropDuplicates("doc_id")
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val row = toks
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_tokens")).head()
    writeEmptyMembers(spark, path,
      toks.filter(col("dl") === 0).select("doc_id"), overwrite = true)
    writeStatsSidecar(spark, path, row, nBuckets)
  }

  /** Top-k BM25 against a persisted [[buildLexIndex]] index —
    * bit-identical results to [[searchTopK]] over the same corpus
    * (same arithmetic owners), but the per-batch cost is a
    * partition-pruned read of only the query vocabulary's bucket
    * directories instead of a corpus scan. The bucket list is derived
    * driver-side from the analyzed query batch (bounded: ≤ distinct
    * query terms, the same boundedness contract as the ANN probe cell
    * list).
    */
  def queryLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qText: Column,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    // serving-side crash guard: a parked tree with files — from a
    // crashed REMOVAL (__remove_old) or COMPACTION (__compact_old)
    // swap alike — means some bucket's only copy sits OUTSIDE the
    // lake; serving would silently answer with that bucket's terms
    // missing, for every query, indefinitely. Fail loudly instead;
    // the stats sidecar alone cannot mark this (it predates the
    // crash). Single owner: Compact.requireServable.
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    graft.etl.Compact.requireServable(
      target.getFileSystem(spark.sparkContext.hadoopConfiguration), target)
    val (nDocs, totalTokens, nBuckets) = readStatsSidecar(spark, path)
    val qt = Dedup.scopedCache(queryTerms(queries, qId, qText))
    // bounded driver collect (≤ distinct query terms): the pruning list
    val buckets = qt
      .select(bucketOf(col("term"), nBuckets).as("bucket")).distinct()
      .collect().map(_.getInt(0))
    val post = readPostingsLake(spark, path)
      .filter(col("bucket").isin(buckets.map(Int.box): _*))
      // a bucket holds OTHER terms' postings too — the vocab semi-join
      // is still the row gate, the bucket filter only prunes IO
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "left_semi")
    import spark.implicits._
    val stats = Seq((nDocs, totalTokens)).toDF("n_docs", "total_tokens")
    scoreAndRank(post, qt, stats, k, k1, b)
  }

  /** Compact a persisted lex index's postings lake — each
    * [[addToLexIndex]] appends one file per touched bucket, so a
    * daily-add index decays into many small files per bucket over
    * time; same fix as [[Ann.compactIndex]], delegating to
    * [[graft.etl.Compact.compactPartitioned]] (work dirs OUTSIDE the
    * lake, per-leaf row-count gate, park-then-swap). The stats
    * sidecar is untouched and query results are bit-identical
    * before/after (spec-pinned).
    */
  def compactLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.etl.Compact.CompactStats)] = {
    resumePendingRemove(spark, path)
    graft.etl.Compact.compactPartitioned(spark, s"$path/postings", targetBytes)
  }

  private def writeStatsSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String,
      row: org.apache.spark.sql.Row, nBuckets: Int): Unit = {
    import spark.implicits._
    val target = new org.apache.hadoop.fs.Path(s"$path/stats")
    IndexLake.placeSidecar(target.getFileSystem(spark.sparkContext.hadoopConfiguration),
      target, Seq((row.getLong(0), row.getLong(1), nBuckets))
        .toDF("n_docs", "total_tokens", "n_buckets").coalesce(1))
  }

  /** (n_docs, total_tokens, n_buckets) — bounded 1-row read; fails
    * loudly on a missing/corrupt sidecar (the index-complete marker).
    * Also the single choke point for the rebucket-in-flight guard:
    * every query/mutation verb reads the sidecar, and a crashed
    * [[rebucketLexIndex]] can leave the LAKE laid out for the new
    * bucket count while the sidecar still says the old one — pruning
    * would then open the wrong dirs and silently answer with terms
    * missing. The intent marker makes that window refuse loudly with
    * the converging remedy instead.
    */
  private def readStatsSidecar(
      spark: org.apache.spark.sql.SparkSession, path: String,
      allowRebucketIntent: Boolean = false): (Long, Long, Int) = {
    if (!allowRebucketIntent) {
      val intent = new org.apache.hadoop.fs.Path(s"$path/rebucket_intent")
      val fs = intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(intent),
        s"$path has a rebucket in flight (crashed mid-rebucket?) -- run " +
          "Bm25.rebucketLexIndex(path, newBuckets) to converge it first")
    }
    val rows = spark.read.parquet(s"$path/stats")
      .select("n_docs", "total_tokens", "n_buckets").collect()
    require(rows.length == 1, s"$path/stats is not a 1-row sidecar -- not a lex index")
    (rows(0).getLong(0), rows(0).getLong(1), rows(0).getInt(2))
  }

  /** Re-bucket a persisted lex index to `newBuckets` posting buckets —
    * the layout-decay cure bucket COUNTS need: `nBuckets` is fixed at
    * [[buildLexIndex]] time, so an index that has grown 100× since
    * build still spreads its postings over the toy-scale bucket count,
    * per-bucket files balloon, and query-time pruning degrades toward
    * full scans ([[compactLexIndex]] heals FILE decay within buckets,
    * never the bucket count itself). One full-lake rewrite — the
    * honest cost of changing a hash-partitioned layout — then the
    * partition-pruned query path amortizes at the new width forever.
    *
    * Crash contract (the sidecar's `n_buckets` DRIVES pruning, so a
    * lake/sidecar mismatch must never serve): an INTENT marker
    * (`path/rebucket_intent`, atomic rename placement, same pattern as
    * the remove journal) is placed before the swap and removed after
    * the sidecar lands; every other verb refuses while it exists
    * ([[readStatsSidecar]]); and re-running this verb converges from
    * ANY window — the rewrite keys buckets off the TERM column, so it
    * is idempotent whether the lake it reads is old- or new-layout,
    * and the two-rename swap's parked tree is recovered (rename-back
    * or finish-the-delete, decided by which side of the swap the
    * crash fell on). Stats (n_docs, total_tokens) are preserved
    * bit-identically; query results are bit-identical before/after
    * (spec-pinned). The IVF family has NO cheap equivalent: its cell
    * count is baked into the trained coarse codebook, so growing
    * `nlist` means re-fitting the quantizer ([[Ann.buildIvfIndex]]) —
    * re-fit or accept the occupancy skew.
    */
  def rebucketLexIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    resumePendingRemove(spark, path)
    val target = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__rebucket_tmp")
    val old = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__rebucket_old")
    val intent = new org.apache.hadoop.fs.Path(s"$path/rebucket_intent")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/rebucket_intent__tmp"), true)
    if (fs.exists(intent)) {
      val prev = spark.read.parquet(intent.toString).select("n_buckets")
        .head().getInt(0)
      require(prev == newBuckets,
        s"$path has a crashed rebucket to $prev buckets in flight -- converge " +
          s"it first (rerun with newBuckets=$prev) before rebucketing to $newBuckets")
    }
    // swap-window recovery BEFORE the servability guard (which would
    // refuse our own parked tree): park-with-files + missing target ⇒
    // crash between swapInto's two renames — the park IS the lake;
    // park-with-files + present target ⇒ crash after the swap-in,
    // before the delete — the target is the count-gated complete
    // rewrite (only this verb creates __rebucket_old, and only after
    // gating tmp), so finishing the delete is completing the swap,
    // not discarding an only copy
    if (fs.exists(old)) {
      require(fs.exists(intent),
        s"$old exists without a rebucket intent -- unrecognized state, refusing")
      if (!fs.exists(target)) require(fs.rename(old, target), s"could not recover $old")
      else fs.delete(old, true)
    }
    graft.etl.Compact.requireServable(fs, target, action = "rebucketing")
    val (nDocs, totalTokens, oldBuckets) =
      readStatsSidecar(spark, path, allowRebucketIntent = true)
    if (oldBuckets == newBuckets) {
      // already at the target width. With a standing intent this is
      // the crash window between the sidecar write and the intent
      // delete — the lake AND sidecar are converged, so completing the
      // delete IS the resume (no second full rewrite)
      fs.delete(intent, true)
      return
    }
    if (!fs.exists(intent)) {
      import spark.implicits._
      val itmp = new org.apache.hadoop.fs.Path(s"$path/rebucket_intent__tmp")
      Seq(newBuckets).toDF("n_buckets").coalesce(1)
        .write.mode("overwrite").parquet(itmp.toString)
      require(fs.rename(itmp, intent), s"could not place rebucket intent at $intent")
    }
    fs.delete(tmp, true)
    // cache for the rewrite + count gate, UNPERSISTED before the swap:
    // a cached plan over path/postings would keep answering
    // post-rebucket reads of the same path with the OLD lake's rows
    // (Spark's cache substitutes by plan equality), serving stale
    // bucket values against new-width pruning
    val src = readPostingsLake(spark, path).cache()
    try {
      val n = src.count()
      // a fully-purged lake (zero data files) has no layout to rewrite —
      // only the sidecar's bucket count moves (and an empty tmp would
      // fail its own count-gate read)
      if (n > 0) {
        // bucket recomputed from the TERM — idempotent over any layout
        src.drop("bucket")
          .withColumn("bucket", bucketOf(col("term"), newBuckets))
          .transform(IndexLake.clusterForWrite("bucket"))
          .write.partitionBy("bucket").mode("overwrite").parquet(tmp.toString)
        val nTmp = spark.read.parquet(tmp.toString).count()
        if (nTmp != n) {
          fs.delete(tmp, true)
          // the lake and sidecar are untouched at this point, so the
          // intent must not outlive the abort: leaving it standing
          // would wedge every verb ("rebucket in flight") on a fully
          // servable index whose error just said "original untouched"
          fs.delete(intent, true)
          throw new IllegalStateException(
            s"rebucket of $path would lose postings ($n read, $nTmp rewritten) -- " +
              "aborted, original untouched and still serving")
        }
        src.unpersist(blocking = true)
        if (fs.exists(target)) graft.etl.Compact.swapInto(fs, tmp, target, old)
        else require(fs.rename(tmp, target), s"could not place rebucketed lake at $target")
        // drop any cached file listing/data for the swapped path — a
        // stale InMemoryFileIndex would read renamed-away files
        spark.catalog.refreshByPath(target.toString)
      }
    } finally src.unpersist(blocking = true)
    writeStatsSidecar(spark, path,
      org.apache.spark.sql.Row(nDocs, totalTokens), newBuckets)
    fs.delete(intent, true)
  }
}
