package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.functions.Vectors

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force is the correctness baseline: broadcast the (small) query
  * set against the base table — a map-side nested loop with no shuffle
  * except the final per-query top-k. The LSH variant buckets both sides
  * with deterministic sign-hyperplanes and joins on bucket, trading
  * recall for a candidate set ~2^bits smaller — the 100 TB path.
  *
  * Top-k selection is the [[TopK.TopKScored]] k-buffer aggregator, not
  * `row_number().over(Window.partitionBy(q_id))`: the window form
  * shuffles EVERY scored candidate into ≤ #queries partitions and fully
  * sorts each — parallelism collapses to the query count, a
  * driver-class bottleneck on a 10^9-row base. The aggregator keeps k
  * rows per (map partition, query) so the shuffle carries ≤ k rows per
  * partition-group regardless of corpus size.
  */
object Ann {

  /** Per-query top-k over a scored candidate frame with columns
    * (q_id, b_id, sim). Map-side partial top-k; output keeps b_id's
    * original type and a 1-based int rank. The aggregator buffers ids
    * as longs, so b_id must be an integral column — a string/uuid id
    * would silently cast to NULL, hence the explicit check.
    */
  private[operators] def topkPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val idType: DataType = scored.schema("b_id").dataType
    require(
      Seq("tinyint", "smallint", "int", "bigint").contains(idType.simpleString),
      s"knn id column must be integral (got ${idType.simpleString}); " +
        "map non-numeric ids to a surrogate long (e.g. monotonically_increasing_id) first")
    scored
      // a NULL sim (ragged embedding lengths make vec_dot yield NULL
      // while the norms stay valid) or NULL id would crash the typed
      // aggregator's non-nullable encoder deep in an executor — exclude
      // such rows instead
      .filter(col("sim").isNotNull && col("b_id").isNotNull)
      .groupBy("q_id")
      .agg(TopK.topKScored(k)(col("sim"), col("b_id").cast("long")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(
        col("q_id"),
        col("e.id").cast(idType).as("b_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("e.sim").as("sim"))
  }

  /** Majority-vote kNN classification over any knn-family output
    * ((q_id, b_id, rank, sim) rows): each query takes the most common
    * label among its neighbors, ties broken by the smaller label — a
    * total order, so the prediction is unique and engine-replayable.
    *
    * Scale shape: the NEIGHBOR PAIRS are the bounded side (queries ×
    * k rows) and broadcast; `labels` — the corpus — streams through
    * one broadcast-hash-join scan, never shuffles, and the vote
    * aggregation is result-sized. Output: (q_id, pred_label, votes).
    * Neighbors whose id is missing from `labels` (or whose label is
    * null) simply cast no vote; a query with zero labeled neighbors
    * emits no row.
    */
  def majorityVote(
      nn: DataFrame, labels: DataFrame,
      labelId: Column, label: Column): DataFrame = {
    val pairs = nn.select(col("q_id"), col("b_id"))
    val lb = labels.select(labelId.as("b_id"), label.as("label"))
      .filter(col("label").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("votes").desc, col("label"))
    lb.join(broadcast(pairs), "b_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
  }

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be broadcast-sized (it is hint-broadcast).
    */
  def knnBruteForce(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int): DataFrame = {
    // norms hoisted to once per ROW (not once per scored pair): the
    // division keeps cosine's exact op sequence, so results stay
    // bit-identical while the per-pair work drops to one dot fold.
    // Zero-norm vectors are EXCLUDED before scoring: cosine is
    // undefined for them, and under ANSI SQL the division would throw
    // (non-ANSI: score NaN and pollute every query's rank 1).
    val b = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0)
    val q = queries.select(qId.as("q_id"), qVec.as("q_emb"))
      .withColumn("q_nrm", Vectors.norm2(col("q_emb")))
      .filter(col("q_nrm") > 0)
    val scored = b.crossJoin(broadcast(q))
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    topkPerQuery(scored, k)
  }

  /** IVF (inverted-file) approximate KNN: a k-means coarse quantizer
    * partitions the base vectors into `nlist` cells; each query probes
    * its `nprobe` nearest cells and ranks only those candidates.
    *
    * This is the standard scale path for ANN over ~10^9+ vectors: the
    * cell assignment is a narrow column, the candidate join is an
    * equi-join on cell id (shuffle ∝ candidates, not corpus), and the
    * centroid codebook is broadcast-sized. Deterministic via a fixed
    * seed.
    *
    * The quantizer is fit DRIVER-SIDE on a bounded deterministic sample
    * (approximately `maxFit` rows — the hash filter admits each row
    * with probability maxFit/total, so the realized count has binomial
    * spread around maxFit; selected by a hash on the id, not `rand()`,
    * so a task retry sees the same sample). This is the FAISS division
    * of labor: `train` is an in-memory problem on a capped sample
    * (≤ ~25 MB at maxFit=100k, dim 64 — the one deliberate, bounded
    * driver collect in the vector family), `add`/assignment of the full
    * base stays one distributed narrow pass through the native
    * [[graft.functions.expr.NearestCentroid]] codegen expression. The
    * previous MLlib fit spent 10 iterations × several scheduler
    * round-trips on that same sample (~1.4 s of pure overhead at
    * sf0.1); [[Quantizer.fit]] does it in milliseconds with identical
    * determinism. CACHE CONTRACT: nothing is cached — callers have
    * nothing to clean up.
    *
    * SIZING: the absolute defaults suit ~500-2000-vector test bases.
    * At deployment scale derive search effort from the corpus size
    * via [[graft.RecallBoard.scaledAnnParams]] (nlist ~ n/125,
    * nprobe = 7/8 of cells, shortlist ~ n/5) -- fixed absolute knobs
    * measurably lose recall as the corpus grows (SCALE.md round 10).
    */
  def knnIvf(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      maxFit: Long = 100000L): DataFrame = {
    val b = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    val codebook = fitCodebook(b, nlist, seed, maxFit)
    val assigned = b
      .withColumn("cell", cellExpr(col("b_emb"), codebook))
      .filter(col("cell").isNotNull) // null vec/element: no cell, like a null join key
      .select(col("b_id"), col("b_emb"), col("cell"))
    // Probe only LIVE cells -- cells holding >= 1 scoreable (norm > 0)
    // member. The quantizer can leave dead centroids (an empty Lloyd
    // cell keeps its previous position, possibly coincident with a
    // twin), and a query whose every probed cell were dead would emit
    // ZERO rows -- breaking the contract that every valid query returns
    // candidates (which v05's self-verifying oracle enforces with its
    // coverage sentinel). Costs one extra narrow pass over the base at
    // query time; [[buildIvfIndex]] gets the same liveness for free as
    // write-time stats. Scoreable also means the codebook's dimension:
    // a wrong-length vector gets a cell from its overlapping prefix but
    // scores NULL, so it must not make its cell live (the persisted
    // index never stores it — see ivfCodec).
    val liveCells = assigned
      .filter(Vectors.norm2(col("b_emb")) > 0 && size(col("b_emb")) === codebook(0).length)
      .select("cell").distinct()
    val centDf = centroidFrame(base.sparkSession, codebook)
      .join(broadcast(liveCells), "cell")
    val q = validQueries(queries, qId, qVec)
    requireQueryDim(q, codebook(0).length)
    val probed = topProbeCells(q, centDf, nprobe).join(q, "q_id")
    val scored = assigned
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0) // zero-norm: see knnBruteForce
      .join(broadcast(probed.withColumnRenamed("qp_nrm", "q_nrm")), "cell")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    topkPerQuery(scored, k)
  }

  /** Bounded deterministic vector sample of a (b_id, b_emb) frame — the
    * shared quantizer-training input (IVF coarse codebook, PQ subspace
    * codebooks): hash-selected on the id (not `rand()`, so task retries
    * see the same sample), ~`maxFit` rows collected to the driver.
    */
  private[operators] def sampleVectors(
      b: DataFrame, maxFit: Long): Array[Array[Float]] = {
    // one cheap narrow count to size the sample fraction (the id column
    // only -- pruned to a metadata/footer read where the source allows)
    val total = b.select("b_id").count()
    val fitDf =
      if (total > maxFit)
        b.filter(pmod(xxhash64(col("b_id")), lit(total)) < lit(maxFit))
      else b
    // bounded collect (see knnIvf scaladoc): <= ~maxFit vectors; null
    // rows are skipped here, null-element rows fall out of assignment.
    // CANONICAL ORDER: k-means++ seeding walks the sample by array
    // index, so collect order would otherwise leak the source's FILE
    // LAYOUT into the codebook — the same corpus repartitioned (or
    // re-read from a cell-partitioned index by [[refitIvfIndex]])
    // would train a different quantizer. Sorting by the id makes the
    // fit a pure function of the (id, vector) SET, which is what lets
    // refit ≡ fresh-build hold by construction. (Duplicate ids — a
    // caller bug — keep their relative collect order; everything else
    // is totally ordered.)
    val raw = fitDf
      .select(col("b_id").cast("string").as("__id"),
        col("b_emb").cast("array<float>"))
      .collect()
      .sortBy(r => Option(r.getString(0)).getOrElse(""))
      .flatMap(r => Option(r.getSeq[Float](1)))
      .filter(s => s.nonEmpty && !s.contains(null))
      .map(_.toArray)
    if (raw.isEmpty) raw
    else {
      // RAGGED rows are dropped from the training sample (majority
      // dimension wins; ties break toward the smaller dim for
      // determinism): base-side encode/assignment gates on the exact
      // dim, but a ragged TRAINING row would silently skew every
      // codebook from an overlapping-prefix distance — same logged
      // degradation posture as the nlist/kSub clamps
      val dim = raw.groupBy(_.length).maxBy { case (d, v) => (v.length, -d) }._1
      val kept = raw.filter(_.length == dim)
      if (kept.length < raw.length)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"quantizer sample dropped ${raw.length - kept.length} ragged vectors " +
            s"(length != majority dim $dim)")
      kept
    }
  }

  /** Fit the IVF coarse codebook on a bounded deterministic sample of
    * `b` (columns b_id, b_emb) -- see [[knnIvf]]'s scaladoc for the
    * FAISS train/add division-of-labor rationale.
    */
  private[operators] def fitCodebook(
      b: DataFrame, nlist: Int, seed: Long, maxFit: Long): Array[Array[Double]] =
    fitCodebookFromSample(sampleVectors(b, maxFit), nlist, seed)

  /** [[fitCodebook]] over an already-collected sample — lets composed
    * operators ([[Pq.knnIvfPq]]) pay the sample scan once for both the
    * coarse and the PQ quantizers.
    */
  private[operators] def fitCodebookFromSample(
      sample: Array[Array[Float]], nlist: Int, seed: Long): Array[Array[Double]] = {
    val fitCount = sample.length
    require(fitCount > 0, "IVF quantizer sample is empty -- no base vectors to index")
    // Clamp rather than throw: a small corpus (or an unlucky binomial
    // draw of the hash sample near the maxFit boundary) should degrade
    // to fewer cells, not nondeterministically fail the job.
    val effNlist = math.min(nlist.toLong, fitCount).toInt
    if (effNlist < nlist)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"IVF quantizer sample has $fitCount rows < nlist=$nlist -- clamping to $effNlist cells")
    Quantizer.fit(sample, effNlist, seed)
  }

  /** Nearest-centroid cell id for a float-array embedding column. */
  private[operators] def cellExpr(emb: Column, codebook: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.expr.NearestCentroid(
        org.apache.spark.sql.GraftColumnShim.expression(emb),
        codebook.flatten, codebook.length, codebook(0).length))

  /** (cell, centroid float array, centroid_d double array) — the ONE
    * owner of the double→float centroid cast: probe ranking must be
    * bit-identical between the on-the-fly and persisted-index paths,
    * and assignment must be bit-identical between build and
    * incremental add, so both precisions derive from the same codebook
    * here and nowhere else.
    */
  private[operators] def codebookFrame(
      spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    codebook.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq, c.toSeq) }.toSeq
      .toDF("cell", "centroid", "centroid_d")
  }

  /** Probe-side view of [[codebookFrame]]: (cell, centroid, c_nrm). */
  private[operators] def centroidFrame(
      spark: org.apache.spark.sql.SparkSession,
      codebook: Array[Array[Double]]): DataFrame =
    codebookFrame(spark, codebook)
      .withColumn("c_nrm", Vectors.norm2(col("centroid")))
      .select("cell", "centroid", "c_nrm")

  /** Valid (norm > 0) queries as (q_id, q_emb, qp_nrm). */
  private[operators] def validQueries(queries: DataFrame, qId: Column, qVec: Column): DataFrame =
    queries.select(qId.as("q_id"), qVec.as("q_emb"))
      .withColumn("qp_nrm", Vectors.norm2(col("q_emb")))
      .filter(col("qp_nrm") > 0)

  /** Fail LOUDLY if any query embedding's length differs from the index
    * dimension: a ragged query folds to NULL against every centroid and
    * would otherwise read as "no neighbors" — a silent drop is the worst
    * failure mode for a correctness-first ANN path (base-side ragged
    * rows keep their documented null-cell drop). One cheap narrow job
    * (reads only array lengths, stops at the first offender).
    */
  private[operators] def requireQueryDim(q: DataFrame, dim: Int): Unit = {
    val bad = q.filter(size(col("q_emb")) =!= dim)
      .select(col("q_id"), size(col("q_emb")).as("d"))
      .limit(1).collect()
    require(bad.isEmpty, {
      val r = bad.head
      s"query ${r.get(0)} has embedding dim ${r.getInt(1)} but the index dim is $dim"
    })
  }

  /** `nprobe` nearest cells per valid query, ranked by COSINE to the
    * centroid -- the same metric the fine scoring stage uses (FAISS
    * pairs the quantizer metric with the search metric; an L2 probe
    * over unnormalized embeddings routes queries to magnitude-similar
    * rather than direction-similar centroids and costs recall). A
    * zero-norm centroid of a LIVE cell is un-rankable by cosine;
    * skipping it would orphan that cell's members, so it ranks at -2
    * (below cosine's [-1, 1] floor): probed last, never dropped.
    * `centDf` must hold only LIVE cells, so every valid query probes
    * >= 1 non-empty cell and therefore returns rows. Returns
    * (q_id, cell).
    */
  private[operators] def topProbeCells(q: DataFrame, centDf: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(broadcast(centDf))
      .select(
        col("q_id"), col("cell"),
        when(col("c_nrm") > 0,
          Vectors.dot(col("q_emb"), col("centroid")) / (col("qp_nrm") * col("c_nrm")))
          .otherwise(lit(-2.0)).as("csim"))
      // a ragged query (array length != codebook dim) folds to NULL
      // csim, which would crash the typed aggregator's non-nullable
      // encoder (see topkPerQuery) — exclude the pair, like a null sim
      .filter(col("csim").isNotNull)
      .groupBy("q_id")
      .agg(TopK.topKScored(nprobe)(col("csim"), col("cell").cast("long")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("cell_l"))
      .select(col("q_id"), col("cell_l").cast("int").as("cell"))

  /** The plain-IVF codec: cell assignment by the coarse codebook, the
    * vector payload (b_id, b_emb, b_nrm; cell). Rows of another
    * dimension are dropped like null join keys: NearestCentroid would
    * assign them a cell from the overlapping prefix, but `vec_dot`
    * scores them NULL, so a cell holding only such rows would be
    * "live" and answer nothing. Zero-norm rows are kept (the id stays
    * listed) but are not scoreable ([[IndexLake.Ivf]]).
    */
  private def ivfCodec(codebook: Array[Array[Double]]): IndexLake.Codec =
    new IndexLake.Codec(IndexLake.Ivf, codebook) {
      private val dim = codebook(0).length
      def encode(b: DataFrame): DataFrame =
        b.filter(size(col("b_emb")) === dim)
          .withColumn("cell", cellExpr(col("b_emb"), codebook))
          .filter(col("cell").isNotNull) // null vec/element: see knnIvf
          .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      def gates: String = s"null vector or element, or dimension != index dim $dim"
    }

  /** Build and persist an IVF index at `path`: the cell-assigned base
    * as parquet PARTITIONED BY cell -- a query probing nprobe of nlist
    * cells then reads ONLY those directories -- plus a codebook sidecar
    * carrying write-time occupancy, so the query path gets live-cell
    * filtering for free (contrast the on-the-fly [[knnIvf]]). Lifecycle
    * contract: [[IndexLake]].
    *
    * Layout: `path/base` (b_id, b_emb, b_nrm; cell = partition key),
    * `path/codebook` (cell, centroid float array, centroid_d double
    * array, members). The DOUBLE centroids are persisted so
    * [[addToIvfIndex]] can assign later rows with arithmetic identical
    * to this build (the float copy exists for the probe ranking, which
    * must match [[knnIvf]] bit-for-bit).
    *
    * `fitOn` optionally trains the quantizer on a different frame (same
    * id/vec columns) than the indexed base -- the FAISS train/add
    * split made explicit: a growing index should be trained once on a
    * representative sample and extended with [[addToIvfIndex]], never
    * re-fit per increment.
    */
  def buildIvfIndex(
      base: DataFrame, baseId: Column, baseVec: Column, path: String,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L,
      fitOn: Option[DataFrame] = None): Unit = {
    val b = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    val fitB = fitOn.map(_.select(baseId.as("b_id"), baseVec.as("b_emb"))).getOrElse(b)
    val codec = ivfCodec(fitCodebook(fitB, nlist, seed, maxFit))
    IndexLake.build(path, codec, b, codec.encode(b))
  }

  /** Incrementally extend a persisted [[buildIvfIndex]] index: assign
    * `rows` with the index's PERSISTED double codebook (immutable for
    * the index's lifetime, so build+add and build-all-with-the-same-
    * codebook produce identical cells) and append them to the cell
    * directories. This is the 1%/day growth path for a 10^9-vector
    * corpus, where a daily re-fit + full rewrite is not an option.
    * Lifecycle contract: [[IndexLake]].
    */
  def addToIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, id: Column, vec: Column): Unit =
    IndexLake.add(spark, path, IndexLake.Ivf,
      rows.select(id.as("b_id"), vec.as("b_emb")))(ivfCodec)

  /** Delete ids from a persisted [[buildIvfIndex]] index — the
    * RETENTION verb closing the lifecycle (build → add → remove):
    * without it a retention delete on the source corpus leaves the
    * index serving ghost rows until a full rebuild. Only the cells
    * holding victims are rewritten ([[IndexLake.remove]]). Removing
    * every last row leaves an empty index (all-zero occupancy);
    * queries against it fail loudly rather than answer from nothing.
    */
  def removeFromIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column): Unit =
    IndexLake.remove(spark, path, IndexLake.Ivf, victims, vicId)

  /** Kept for callers outside the index family: see [[IndexLake.clusterForWrite]]. */
  private[graft] def clusterForWrite(partCol: String)(df: DataFrame): DataFrame =
    IndexLake.clusterForWrite(partCol)(df)

  /** Kept for callers outside the index family: see [[IndexLake.listDataFiles]]. */
  private[graft] def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Set[String] =
    IndexLake.listDataFiles(fs, dir)

  /** Compact a persisted index's base lake (`path/base`) — the second
    * half of the growth lifecycle: every add appends one file per
    * touched cell (or bucket), so a daily-add index decays after a year
    * into ~365 small files per leaf — exactly the listing/footer
    * pathology [[graft.etl.Compact]] exists to fix. Delegates to
    * [[graft.etl.Compact.compactPartitioned]] (work dirs OUTSIDE the
    * lake, per-leaf row-count gate, park-then-swap), so the partition
    * names survive untouched; the sidecars are never touched, and query
    * results are bit-identical before/after (spec-pinned — compaction
    * moves bytes, never rows). Works on every family's layout (it only
    * sees the partitioned base).
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[(String, graft.etl.Compact.CompactStats)] =
    graft.etl.Compact.compactPartitioned(spark, s"$path/base", targetBytes)

  /** Re-fit a persisted plain-IVF index's coarse quantizer at a new
    * cell count — the [[graft.operators.Bm25.rebucketLexIndex]] twin
    * for the ANN family, closing the "re-fit-or-accept" gap: nlist is
    * baked in at build time, so a 100×-grown index keeps its toy-scale
    * cell layout, per-cell occupancy balloons, and probing degrades
    * toward a full scan. The plain-IVF base stores RAW vectors, which
    * makes the re-fit self-contained: one full base read (inherent —
    * every row re-assigns), a fresh deterministic k-means fit at
    * `newNlist`, one partitioned rewrite OUT OF PLACE (this is
    * [[buildIvfIndex]] against a temp root, so sidecar precision and
    * occupancy semantics are identical to a fresh build by
    * construction — and since [[sampleVectors]] canonicalizes the fit
    * sample's order, the refit codebook is BIT-IDENTICAL to a fresh
    * build's over the same rows, whatever layout the base sits in), a
    * pre-swap row-count gate, then ONE whole-index two-rename swap
    * under a sibling intent marker (`path__refit_intent` — outside the
    * index, since the whole of `path` swaps). Crash contract, the
    * [[graft.operators.Bm25.rebucketLexIndex]] discipline: before the
    * swap the original is untouched (tmp residue and an aborted gate
    * clear the intent); between the renames the original is parked at
    * `path__refit_old` and a rerun at the intent's nlist recovers it
    * and completes the rewrite; after the swap-in but before the
    * park's delete, the root is the count-gated complete index, so the
    * rerun finishes the delete instead of rewriting; serving refuses a
    * filed park throughout ([[IndexLake.requireServing]]), and a park
    * WITHOUT an intent is refused as unrecognized, never deleted.
    * Post-swap, cached plans/listings over the path are invalidated
    * (`refreshByPath`) so no reader pairs old cell rows with the new
    * codebook.
    *
    * The quantizer is re-trained on the CURRENT base (the fitOn
    * train/add split does not survive a refit — the original fit frame
    * is gone; at refit time the base itself IS the representative
    * sample). PQ/SQ8 indexes store codes, not vectors, and their
    * codebooks/stats bind to the coarse geometry — a re-fit from
    * decoded vectors would silently bake quantization error into the
    * assignment, so they are REFUSED here with the rebuild verb named:
    * re-fit those from the corpus.
    */
  def refitIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newNlist: Int, seed: Long = 42L, maxFit: Long = 100000L): Unit = {
    require(newNlist >= 1, s"newNlist must be >= 1, got $newNlist")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__refit_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__refit_old")
    // the intent lives OUTSIDE the index (the whole of `path` swaps,
    // so an in-tree marker would ride the rename into the park)
    val intent = new org.apache.hadoop.fs.Path(path + "__refit_intent")
    fs.delete(new org.apache.hadoop.fs.Path(path + "__refit_intent__tmp"), true)
    if (fs.exists(intent)) {
      val prev = spark.read.parquet(intent.toString).select("n_list").head().getInt(0)
      require(prev == newNlist,
        s"$path has a crashed refit to $prev cells in flight -- converge it " +
          s"first (rerun with newNlist=$prev) before refitting to $newNlist")
    }
    // swap-window recovery BEFORE the servability guard (which would
    // refuse our own parked tree). File-less residue is cleared;
    // park-with-files + missing root ⇒ crash between swapInto's two
    // renames — the park IS the index, recover it; park-with-files +
    // present root ⇒ crash after the swap-in, before the delete — the
    // root is the count-gated complete rewrite (only this verb creates
    // __refit_old, and only after gating tmp), so finishing the delete
    // completes the swap, not discards an only copy
    if (fs.exists(old)) {
      if (!fs.listFiles(old, true).hasNext) fs.delete(old, true)
      else {
        require(fs.exists(intent),
          s"$old holds parked index data without a refit intent -- " +
            "unrecognized state; recover it (rename back or remove) manually")
        if (!fs.exists(root)) require(fs.rename(old, root), s"could not recover $old")
        else fs.delete(old, true)
      }
    }
    // parked BASE leaves (a crashed remove/compact) block equally — a
    // refit reading a cell-less base would cement the loss; a PQ/SQ8
    // index is refused with its build verb named (codes carry no raw
    // vectors to re-fit from — rebuild it from the source corpus)
    IndexLake.requireServing(spark, path, IndexLake.Ivf, "build")
    if (spark.read.parquet(s"$path/codebook").count() == newNlist.toLong) {
      // already at the target width: with a standing intent this is the
      // crash window between the swap's old-delete and the intent
      // delete — the index is converged, completing the delete IS the
      // resume (no second rewrite). Without an intent it is a no-op.
      fs.delete(intent, true)
      return
    }
    if (!fs.exists(intent)) {
      import spark.implicits._
      val itmp = new org.apache.hadoop.fs.Path(path + "__refit_intent__tmp")
      Seq(newNlist).toDF("n_list").coalesce(1)
        .write.mode("overwrite").parquet(itmp.toString)
      require(fs.rename(itmp, intent), s"could not place refit intent at $intent")
    }
    fs.delete(tmp, true)
    val base = spark.read.parquet(s"$path/base").select("b_id", "b_emb")
    val nSrc = base.count()
    buildIvfIndex(base, col("b_id"), col("b_emb"), tmp.toString,
      nlist = newNlist, seed = seed, maxFit = maxFit)
    val nTmp = spark.read.parquet(s"$tmp/base").count()
    if (nTmp != nSrc) {
      fs.delete(tmp, true)
      // original untouched and still serving — the intent must not
      // outlive the abort or it would wedge every later verb
      fs.delete(intent, true)
      throw new IllegalStateException(
        s"refit of $path would lose rows ($nSrc read, $nTmp rewritten) — aborted, original untouched")
    }
    graft.etl.Compact.swapInto(fs, tmp, root, old)
    // drop cached plans/file listings over the swapped tree — a stale
    // InMemoryFileIndex (or a cached DataFrame over path/base) would
    // pair OLD cell rows with the NEW codebook, which is silently
    // wrong, or throw on renamed-away files
    spark.catalog.refreshByPath(path)
    fs.delete(intent, true)
  }

  /** Bounded observability read of a persisted index's codebook
    * sidecar: total occupancy, cell count, live-cell count. SINGLE
    * owner of the aggregate shared by the HTML inventory cards and the
    * HTTP `/index/stats` endpoint — ≤ nlist rows read, the base lake
    * never scanned. Works for both the plain-IVF and IVF-PQ layouts
    * (same codebook schema).
    */
  case class IndexOccupancy(occupancy: Long, cells: Long, liveCells: Long)

  def indexOccupancy(
      spark: org.apache.spark.sql.SparkSession, path: String): IndexOccupancy = {
    val agg = spark.read.parquet(s"$path/codebook").agg(
      coalesce(sum(col("members")), lit(0L)).as("occ"),
      count(lit(1)).as("cells"),
      count_if(col("members") > 0).as("live")).head()
    IndexOccupancy(agg.getLong(0), agg.getLong(1), agg.getLong(2))
  }

  /** KNN against a persisted [[buildIvfIndex]] index over the shared
    * probed-cell scan ([[IndexLake.probe]]: live-cell probe ranks from
    * the codebook sidecar, partition-pruned read of only the probed
    * cells). Same arithmetic as [[knnIvf]] end-to-end: the same build
    * inputs and the same (k, nprobe) produce identical rows.
    *
    * `eligible` — FILTERED search ("nearest neighbors WHERE license =
    * permissive"): a frame + id column naming the base ids allowed to
    * score, PRE-filtered out of the scan before scoring, so the top-k
    * ranks over eligible candidates only (a post-filter would return
    * < k rows and silently lose eligible neighbors ranked k+1+). The
    * index stores vectors only; eligibility arrives as an id set so
    * any metadata predicate, computed on any table, can drive it.
    * Queries whose probed cells hold no eligible candidate return no
    * rows.
    *
    * CALLER CONTRACT: caches the (q_id, cell) probe frame -- wrap in
    * [[Dedup.scoped]] or clear the cache, as with the dedup operators.
    */
  def queryIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nprobe: Int = 4,
      eligible: Option[(DataFrame, Column)] = None,
      withVec: Boolean = false): DataFrame = {
    val p = IndexLake.probe(spark, path, IndexLake.Ivf, queries, qId, qVec, nprobe, eligible)
    val scored = p.scan
      .join(broadcast(p.probed.withColumnRenamed("qp_nrm", "q_nrm")), "cell")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    val top = topkPerQuery(scored, k)
    if (!withVec) top
    else
      // `withVec`: carry each served neighbor's embedding for
      // downstream re-ranks ([[Mmr.diversify]] at the serving layer).
      // The join re-reads ONLY the probed cell partitions (same
      // partition-pruned scan as the scoring pass) for ≤ queries × k
      // ids — never the whole lake; results are identical to the
      // plain form plus one column.
      top.join(p.scan.select(col("b_id"), col("b_emb")), "b_id")
        .select(col("q_id"), col("b_id"), col("rank"), col("sim"), col("b_emb"))
  }

  /** Every b_id the persisted index currently serves — a NARROW
    * id-only column scan of the base lake (parquet column pruning:
    * nothing else is read). Works for both the IVF and the IVF-PQ
    * layout (both store base rows keyed by `b_id`). The id surface
    * for exactly-once stream ingest
    * ([[graft.streaming.Streams.indexIngest]]'s dedupe leg); the lex
    * twin is [[Bm25.lexIndexIds]].
    */
  def indexIds(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/base").select("b_id")

  /** Embedding-cosine near-duplicate pairs at corpus scale: candidate
    * generation via multi-table sign-LSH bucket equi-join, then an exact
    * strict-fold cosine verify over the candidates only — the vector
    * twin of [[Dedup.minhashPairs]] (bands → candidates → exact
    * verify), replacing any all-pairs/blocked-cross candidate join.
    *
    * Shuffle budget: the bucket self-join ships (table, bucket, id)
    * rows only — `tables` narrow rows per vector; candidate pairs are
    * deduped BEFORE embeddings are re-joined for scoring, so the wide
    * arrays travel once per surviving pair side, not per collision.
    * Recall is tunable the standard LSH way (fewer `bits` → bigger
    * buckets; more `tables` → more chances to collide) and is measured
    * against the all-pairs baseline in ScalaTest; reported similarities
    * are exact regardless of recall.
    *
    * Reference contract: the bounded-distance similarity θ-join of
    * /root/reference/src/media_fingerprinting.py:278-310, re-keyed for
    * cosine over embeddings.
    *
    * CALLER CONTRACT: caches two narrow frames; wrap in [[Dedup.scoped]]
    * (or clear the cache) exactly as with the text-dedup operators.
    */
  def cosineNeardupLsh(
      df: DataFrame, id: Column, vec: Column,
      minSim: Double, bits: Int = 8, tables: Int = 2): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    // narrow per-row prep, scanned by the bucket pass and both verify
    // joins: id + embedding + hoisted norm (zero-norm rows excluded —
    // cosine undefined; see knnBruteForce)
    val e = Dedup.scopedCache(
      df.select(id.as("vec_id"), vec.as("emb"))
        .withColumn("nrm", Vectors.norm2(col("emb")))
        .filter(col("nrm") > 0))
    val buckets = Dedup.scopedCache(e.select(
      col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Vectors.signLsh(col("emb"), bits, t).as("bucket"))): _*)).as("tb")))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.tb") === col("y.tb") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("d1"), col("emb").as("ea"), col("nrm").as("na")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("emb").as("eb"), col("nrm").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        (Vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023, "SemDeDup:
    * data-efficient learning at web-scale through semantic
    * deduplication"): embedding-CLUSTER the corpus with the coarse
    * k-means quantizer, then find cosine-τ near-duplicate pairs
    * WITHIN each cluster — candidate generation is cluster-bounded
    * (Σ|cell|² pairwise work, never corpus-quadratic), which is what
    * makes semantic dedup tractable at web scale. A τ-pair split
    * across a cluster boundary is missed: the paper's deliberate
    * recall trade, measured here in ScalaTest (the clustered-fixture
    * spec pins within-cluster recall at 1.0) — candidate selection is
    * engine-side like [[knnIvf]]'s cells, so the d06 oracle verifies
    * every REPORTED pair's cosine bit-for-bit plus a non-vacuous
    * floor, and deliberately does not constrain which pairs were
    * considered.
    *
    * SIZE nlist TO THE CORPUS (the paper runs tens of thousands of
    * clusters): mean cell size = N/nlist drives the per-cell pairwise
    * cost, and a hot cell is AQE's skew case on the self-join.
    * Reported sims are exact strict-fold cosines over the ORIGINAL
    * vectors (the [[cosineNeardupLsh]] arithmetic — hoisted norms,
    * same operand order).
    */
  def semDedupPairs(
      df: DataFrame, id: Column, vec: Column, tau: Double,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val e = Dedup.scopedCache(
      df.select(id.as("vec_id"), vec.as("emb"))
        .withColumn("nrm", Vectors.norm2(col("emb")))
        .filter(col("nrm") > 0))
    val codebook = fitCodebook(
      e.select(col("vec_id").as("b_id"), col("emb").as("b_emb")), nlist, seed, maxFit)
    val cells = Dedup.scopedCache(
      e.withColumn("cell", cellExpr(col("emb"), codebook))
        .filter(col("cell").isNotNull))
    cells.as("a")
      .join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        (Vectors.dot(col("a.emb"), col("b.emb")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** SemDeDup keep/drop decisions: [[semDedupPairs]] →
    * [[Dedup.groupPairs]] connected components → keep the smallest id
    * per component (the repo's deterministic keep-first convention; the
    * paper keeps by centroid distance — a policy choice, not a
    * correctness one). One row per scoreable input:
    * (doc_id, group_id, keep).
    */
  def semDedup(
      df: DataFrame, id: Column, vec: Column, tau: Double,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    val pairs = semDedupPairs(df, id, vec, tau, nlist, seed, maxFit)
    val groups = Dedup.groupPairs(pairs)
    df.select(id.as("doc_id"), vec.as("__v"))
      .filter(Vectors.norm2(col("__v")) > 0)
      .select("doc_id")
      .join(groups, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"),
        (coalesce(col("group_id"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Approximate top-k via sign-LSH bucketing: candidates are base rows
    * sharing the query's bucket in ANY of `tables` independent hash
    * tables; rank within the deduplicated candidate set. Recall rises
    * with fewer bits (bigger buckets), with more tables (the standard
    * multi-table LSH recall knob — candidate volume scales ∝ tables,
    * each table still an equi-join), and with `multiprobe`.
    *
    * `multiprobe` additionally probes every Hamming-neighbor of the
    * query's bucket within `probeRadius` bit flips in each table
    * (radius 1: bucket ⊕ 2^j per plane — a near-miss on a single
    * hyperplane no longer loses the candidate; radius 2 adds every
    * two-plane flip, the standard multi-probe LSH ladder). The
    * expansion is QUERY-side only: the base keeps exactly `tables`
    * bucket entries per row, so at scale the shuffled/broadcast index
    * footprint is unchanged and only the tiny query side fans out
    * ×(1 + bits + C(bits,2)) at radius 2. That makes multiprobe the
    * cheap recall knob (more tables grow the base-side footprint
    * linearly; probing grows nothing but the probe list).
    */
  def knnLsh(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, bits: Int = 8, tables: Int = 1,
      multiprobe: Boolean = false, probeRadius: Int = 1): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    require(probeRadius >= 1 && probeRadius <= 2,
      s"probeRadius must be 1 or 2, got $probeRadius")
    val b0 = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0) // zero-norm: see knnBruteForce
    val q0 = queries.select(qId.as("q_id"), qVec.as("q_emb"))
      .withColumn("q_nrm", Vectors.norm2(col("q_emb")))
      .filter(col("q_nrm") > 0)
    // one (table, bucket) key per row per table: a single explode keeps
    // one scan of each side instead of a tables-way union
    def bucketed(df: DataFrame, vec: String) = df.withColumn(
      "tb",
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), Vectors.signLsh(col(vec), bits, t).as("bucket"))): _*)))
    // query-side probe expansion: the exact bucket plus (multiprobe)
    // every ≤ probeRadius-bit flip. The masks are pairwise distinct,
    // so within one table no duplicate candidates arise
    val qBucketed0 = bucketed(q0, "q_emb")
    val probeMasks: Seq[Long] = {
      val singles = (0 until bits).map(j => 1L << j)
      val pairs =
        if (probeRadius < 2) Seq.empty
        else for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)
      0L +: (singles ++ pairs)
    }
    val qBucketed =
      if (!multiprobe) qBucketed0
      else qBucketed0.withColumn("tb", explode(array(
        probeMasks.map(m =>
          struct(col("tb.t").as("t"),
            col("tb.bucket").bitwiseXOR(lit(m)).as("bucket"))): _*)))
    val scored0 = bucketed(b0, "b_emb").join(
        broadcast(qBucketed.select(col("tb"), col("q_id"), col("q_emb"), col("q_nrm"))),
        "tb")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    // a pair colliding in several tables would occupy several top-k
    // slots — dedup AFTER scoring so the shuffle ships the narrow
    // (q_id, b_id, sim) projection, not embedding arrays. Within ONE
    // table no dup is possible even under multiprobe: the probe
    // buckets are pairwise distinct and a base row holds one bucket
    val scored = if (tables == 1) scored0 else scored0.dropDuplicates("q_id", "b_id")
    topkPerQuery(scored, k)
  }

  /** Discount weights 1/log₂(i+1) for ranks 1..k. Computed ONCE here
    * and embedded as shortest-round-trip double LITERALS on both
    * engines ([[ndcgAtK]] via `lit`, the v24 oracle via `toString` —
    * Scala's Double formatting round-trips, and DuckDB parses a
    * decimal literal to the nearest double, i.e. the same bits), so
    * no engine ever CALLS log2 — libm and the JVM disagree in the
    * last ulp on non-power-of-two arguments.
    */
  def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Prefix sums of [[ndcgDiscounts]] — `idcgTable(k)(i-1)` is the
    * ideal DCG of a query whose exact top-k holds i entries. Strict
    * left fold in Scala, computed ONCE and embedded as literals on
    * both engines (same shortest-round-trip discipline as the
    * discounts themselves), so per-query IDCG is a table LOOKUP, not
    * a runtime float sum.
    */
  def idcgTable(k: Int): Seq[Double] =
    ndcgDiscounts(k).scanLeft(0.0)(_ + _).tail

  /** NDCG@k of an approximate ranking against an exact one — the
    * ranking-quality eval run after every ANN index build (recall says
    * WHETHER the true neighbors surfaced, NDCG says WHERE). Both
    * inputs are (q_id, b_id, rank) frames (any extra columns ignored);
    * relevance is binary membership in the exact top-k.
    *
    * IDCG is PER QUERY: the sum of the first `|exact top-k|` discounts
    * ([[idcgTable]]) — standard NDCG normalizes by the ideal DCG over
    * min(|relevant|, k) positions, so a query whose exact list holds
    * fewer than k entries (small base corpus, NaN-filtered candidates)
    * can still reach ndcg = 1.0 when the approximate ranking is
    * perfect. A constant Σ over all k discounts would bias cross-query
    * comparisons whenever exact sizes differ.
    *
    * Output: one row per query in `exact` — (q_id, hits, ndcg); a
    * query the approximate ranking missed entirely scores (0, 0.0).
    *
    * Determinism: DCG is a FOLD over the ascending hit ranks against
    * the literal discount table ([[ndcgDiscounts]]) — never a float
    * group-sum, whose order the shuffle would own — and the per-query
    * IDCG divisor is a literal-table lookup. One equi-join on
    * (q_id, b_id) + one query-keyed rollup; at 10⁹ queries everything
    * shuffles on the query key.
    */
  def ndcgAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    val ws = ndcgDiscounts(k)
    val wArr = array(ws.map(lit): _*)
    val pArr = array(idcgTable(k).map(lit): _*)
    val ex = exact.filter(col("rank") <= k).select(col("q_id"), col("b_id"))
    val ap = approx.filter(col("rank") <= k)
      .select(col("q_id"), col("b_id"), col("rank"))
    val perQ = ap.join(ex, Seq("q_id", "b_id"))
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("hits"),
        sort_array(collect_list(col("rank"))).as("rs"))
    // the same rollup that sizes each query's exact list also keys the
    // left join — no extra shuffle vs the old distinct()
    ex.groupBy("q_id").agg(count(lit(1)).as("n_ex"))
      .join(perQ, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(
          aggregate(col("rs"), lit(0.0),
            (acc, r) => acc + element_at(wArr, r.cast("int"))),
          // least() clamps the IDCG lookup to the k-entry table: the
          // input contract says (q_id, b_id) is unique in `exact`, but
          // duplicate pairs would push n_ex past k and element_at
          // would return null (ANSI off) or throw (ANSI on) — an
          // out-of-contract input must degrade, not corrupt the column
          lit(0.0)) / element_at(pArr, least(col("n_ex"), lit(k.toLong)).cast("int"))).as("ndcg"))
  }
}
