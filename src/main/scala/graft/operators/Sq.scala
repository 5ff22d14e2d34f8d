package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Scalar quantization (SQ8) for embedding columns — FAISS's
  * `ScalarQuantizer(QT_8bit)` family: each dimension is linearly
  * mapped to one byte using per-dimension [min, max] ranges fit from
  * the corpus, a 4× compression at float32 (vs PQ's 32× — SQ8 is the
  * milder compression tier that keeps per-dimension resolution, the
  * standard first step down from raw floats on ~10^8-vector corpora).
  *
  * Unlike PQ (k-means codebooks → engine-specific centroids), the SQ8
  * transform is CLOSED-FORM: min/max per dimension are
  * order-independent aggregates and encode/decode is pure arithmetic
  * (`round`, clamp, linear rescale). Every stage — stats, codes,
  * reconstruction, ADC scoring, shortlist selection, exact rerank — is
  * therefore bit-replayable by the DuckDB oracle end to end: the ONLY
  * compressed ANN path with a FULL pipeline-replay gate rather than
  * the (weaker) self-verifying score contract v05/v09 use.
  *
  * Scale shape mirrors [[Pq.knnPq]]: stats are ONE order-independent
  * aggregate (map-side combine, a 2·D-value driver row — no sample,
  * no iteration, unlike k-means); encode is a narrow projection; ADC
  * scoring broadcasts the queries; shortlist + exact-rerank tail is
  * the shared [[Ann.topkPerQuery]] k-buffer (no Window). At 100 TB
  * the codes column (D bytes/row) is what a persisted lake would
  * store — the same build/add/query split as the PQ index applies,
  * with byte-codes streaming through the scan instead of floats.
  */
object Sq {

  /** Per-dimension [min, max] over the scoreable base — the entire
    * "model" of SQ8 (compare [[Pq.Codebooks]]). Exact and
    * deterministic regardless of partitioning: min/max are
    * order-independent, so there is no fold-order caveat anywhere in
    * the fit.
    */
  case class Sq8Stats(mins: Array[Double], maxs: Array[Double]) {
    def dim: Int = mins.length
  }

  /** Fit stats in ONE distributed aggregate (2·D agg expressions, all
    * map-side partial). `frame` must already be gated to the fixed
    * dimension and scoreable rows — [[knnSq8]] owns those filters so
    * the oracle can mirror them.
    */
  def fitStats(frame: DataFrame, vec: Column, dim: Int): Sq8Stats = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val aggs = (1 to dim).flatMap(i => Seq(
      min(element_at(vec, i).cast("double")).as(s"mn$i"),
      max(element_at(vec, i).cast("double")).as(s"mx$i")))
    val row = frame.agg(aggs.head, aggs.tail: _*).head()
    require(!row.isNullAt(0), "SQ8 fit frame is empty -- no base vectors")
    Sq8Stats(
      Array.tabulate(dim)(i => row.getDouble(2 * i)),
      Array.tabulate(dim)(i => row.getDouble(2 * i + 1)))
  }

  /** `array<int>` byte codes: per dimension,
    * `clamp(round(((x - min) / (max - min)) * 255), 0, 255)`; a
    * degenerate dimension (max == min) codes to 0. Null elements yield
    * null codes (callers filter, like [[Pq.encode]]). The arithmetic
    * (including `round`'s half-away-from-zero on the non-negative
    * operand) is replayed token-for-token by the v15 oracle.
    */
  def encodeExpr(vec: Column, st: Sq8Stats): Column = {
    val mnl = typedLit(st.mins.toSeq)
    val mxl = typedLit(st.maxs.toSeq)
    transform(vec, (x, i) => {
      val mn = element_at(mnl, i + 1)
      val mx = element_at(mxl, i + 1)
      when(x.isNull, lit(null).cast("int"))
        .when(mx === mn, lit(0))
        .otherwise(
          least(greatest(round(((x.cast("double") - mn) / (mx - mn)) * 255), lit(0.0)), lit(255.0))
            .cast("int"))
    })
  }

  /** Reconstructed `array<double>`:
    * `min + ((code / 255) * (max - min))` per dimension — double
    * precision all the way so the ADC fold is exactly the oracle's.
    */
  def decodeExpr(codes: Column, st: Sq8Stats): Column = {
    val mnl = typedLit(st.mins.toSeq)
    val mxl = typedLit(st.maxs.toSeq)
    transform(codes, (c, i) => {
      val mn = element_at(mnl, i + 1)
      val mx = element_at(mxl, i + 1)
      when(mx === mn, mn)
        .otherwise(mn + ((c.cast("double") / lit(255.0)) * (mx - mn)))
    })
  }

  /** Shared gate + fit + encode stanza of [[knnSq8]] and
    * [[knnIvfSq8]] — SINGLE owner because the v15 oracle replays this
    * arithmetic token-for-token and the two paths' bit-equality spec
    * depends on them never diverging. Returns the scoreable base
    * (`b`), its encoded form (`enc`), and the fitted dimension.
    *
    * Gates, in order: (1) non-FINITE elements (NaN and ±Inf) are
    * excluded BEFORE the stats fit — one NaN in one vector would
    * poison that dimension's min/max (Spark's NaN orders above every
    * numeric AND passes `b_nrm > 0`), and one ±Inf makes that
    * dimension's fitted max infinite, so decodeExpr computes
    * mn + 0·Inf = NaN for EVERY row's reconstruction in that
    * dimension — either way silently collapsing every shortlist to
    * the lowest-id docs; (2) zero-norm
    * rows (cosine undefined); (3) the fixed dimension — the SMALLEST
    * vector length present, a deterministic choice under any
    * partitioning (`head(1)` on an unordered frame is not); mixed-dim
    * corpora are out of contract, this just pins which subset a
    * violation degrades to.
    */
  private def encodedBase(
      base: DataFrame, baseId: Column, baseVec: Column): (DataFrame, DataFrame, Int, Sq8Stats) = {
    val b0 = finiteScoreable(base.select(baseId.as("b_id"), baseVec.as("b_emb")))
    val dRow = b0.select(min(size(col("b_emb"))).as("d")).head()
    require(!dRow.isNullAt(0), "SQ8: no scoreable base vectors")
    val d = dRow.getInt(0)
    val b = b0.filter(size(col("b_emb")) === d)
    val st = fitStats(b, col("b_emb"), d)
    (b, sq8Encode(b, st), d, st)
  }

  /** Gates (1) and (2) of [[encodedBase]]: finite elements, non-zero norm. */
  private def finiteScoreable(b: DataFrame): DataFrame =
    b.filter(col("b_emb").isNotNull &&
        forall(col("b_emb"), x =>
          x.isNotNull && !isnan(x) && abs(x) < lit(Float.PositiveInfinity)))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0)

  /** Codes + reconstruction of dimension-gated rows, keeping only
    * codable rows with a non-zero reconstruction.
    */
  private def sq8Encode(b: DataFrame, st: Sq8Stats): DataFrame =
    b.withColumn("codes", encodeExpr(col("b_emb"), st))
      .filter(forall(col("codes"), c => c.isNotNull))
      .withColumn("recon", decodeExpr(col("codes"), st))
      .withColumn("r_nrm", Vectors.norm2(col("recon")))
      .filter(col("r_nrm") > 0)

  /** Approximate top-k cosine via SQ8 shortlist + EXACT rerank (the
    * [[Pq.knnPq]] deployment with the closed-form quantizer):
    *
    *  1. gate base and queries to scoreable fixed-dim vectors;
    *  2. fit per-dimension [min, max] (one aggregate);
    *  3. encode + reconstruct the base (narrow projection), score all
    *     (base × broadcast queries) pairs on the RECONSTRUCTION
    *     (asymmetric distance — the query stays full-precision), and
    *     keep a deterministic per-query shortlist (ADC score desc,
    *     id asc — the k-buffer tail, no Window);
    *  4. re-score shortlist pairs exactly on the originals; report
    *     top k true cosines.
    *
    * Every stage is deterministic arithmetic, so the v15 oracle
    * replays the WHOLE pipeline — shortlist membership included, which
    * the PQ paths cannot offer (their codebooks are engine-side).
    */
  def knnSq8(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, shortlist: Int = 0): DataFrame = {
    val sl = Pq.shortlistSize(shortlist, k)
    val (b, enc, d, _) = encodedBase(base, baseId, baseVec)

    val q = queries.select(qId.as("q_id"), qVec.as("q_emb"))
      .withColumn("q_nrm", Vectors.norm2(col("q_emb")))
      .filter(col("q_nrm") > 0)
    // a wrong-dim query must fail LOUDLY, not read as "no neighbors" —
    // the same contract every other ANN path enforces
    Ann.requireQueryDim(q, d)

    val adcScored = enc.crossJoin(broadcast(q))
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("recon"), col("q_emb")) / (col("r_nrm") * col("q_nrm"))).as("sim"))
    val short = Ann.topkPerQuery(adcScored, sl).select("q_id", "b_id")

    val exact = short
      .join(b.select(col("b_id"), col("b_emb"), col("b_nrm")), "b_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    Ann.topkPerQuery(exact, k)
  }

  /** IVF × SQ8 composition (FAISS `IndexIVFScalarQuantizer`, global
    * non-residual variant): the coarse k-means cells prune WHICH rows
    * are scanned ([[Ann.knnIvf]]'s probing, live-cell guarantee
    * included), the byte codes compress WHAT the scan reads — the
    * middle tier of the quantizer ladder (raw → SQ8 → IVF-SQ8 →
    * IVF-PQ), trading IVF-PQ's 32× for 4× with near-exact recall.
    * Shortlist + exact rerank as everywhere, so every reported sim is
    * a true cosine and the self-verifying oracle contract applies
    * (v16); with `nprobe >= nlist` the scan is exhaustive over live
    * cells and the output is bit-equal to [[knnSq8]] (spec-pinned).
    *
    * SIZING: the absolute defaults suit ~500-2000-vector test bases.
    * At deployment scale derive search effort from the corpus size
    * via [[graft.RecallBoard.scaledAnnParams]] (nlist ~ n/125,
    * nprobe = 7/8 of cells, shortlist ~ n/5) -- fixed absolute knobs
    * measurably lose recall as the corpus grows (SCALE.md round 10).
    */
  def knnIvfSq8(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nlist: Int = 16, nprobe: Int = 4, shortlist: Int = 0,
      seed: Long = 42L, maxFit: Long = 100000L): DataFrame = {
    val sl = Pq.shortlistSize(shortlist, k)

    // shared stanza with knnSq8 (single owner — see [[encodedBase]]);
    // the coarse quantizer fits on the SAME gated rows it will assign,
    // and the cell assignment is a narrow per-row pass over both the
    // raw and encoded frames
    val (b0, enc0, _, _) = encodedBase(base, baseId, baseVec)
    val codebook = Ann.fitCodebook(
      b0.select(col("b_id"), col("b_emb")), nlist, seed, maxFit)
    val b = b0
      .withColumn("cell", Ann.cellExpr(col("b_emb"), codebook))
      .filter(col("cell").isNotNull)
    val enc = enc0
      .withColumn("cell", Ann.cellExpr(col("b_emb"), codebook))
      .filter(col("cell").isNotNull)

    // live-cell probing + loud dim gate, exactly the knnIvf discipline
    val liveCells = b.select("cell").distinct()
    val centDf = Ann.centroidFrame(base.sparkSession, codebook)
      .join(broadcast(liveCells), "cell")
    val q = Ann.validQueries(queries, qId, qVec)
    Ann.requireQueryDim(q, codebook(0).length)
    val probed = Ann.topProbeCells(q, centDf, nprobe).join(q, "q_id")

    val adc = enc
      .join(broadcast(probed.withColumnRenamed("qp_nrm", "q_nrm")), "cell")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("recon"), col("q_emb")) / (col("r_nrm") * col("q_nrm"))).as("sim"))
    val short = Ann.topkPerQuery(adc, sl).select("q_id", "b_id")

    val exact = short
      .join(b.select(col("b_id"), col("b_emb"), col("b_nrm")), "b_id")
      .join(broadcast(q.withColumnRenamed("qp_nrm", "q_nrm")), "q_id")
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("b_emb"), col("q_emb")) / (col("b_nrm") * col("q_nrm"))).as("sim"))
    Ann.topkPerQuery(exact, k)
  }

  // ------------------------------------------------ persisted index

  /** Build a PERSISTED IVF-SQ8 index — the byte-code serving tier that
    * completes the quantizer-ladder lifecycle (plain IVF: `Ann.*Index`,
    * IVF-PQ: `Pq.*IvfPqIndex`, and now IVF-SQ8): the base stores ONLY
    * (b_id, codes, r_nrm) partitioned by coarse cell (D bytes of codes
    * per row vs 4·D of floats — FAISS `IndexIVFScalarQuantizer`'s
    * layout), originals stay in the source table and are joined back
    * for the exact-rerank shortlist only. Layout:
    * `path/base` (b_id, codes, r_nrm; cell = partition key),
    * `path/sq` (one row per dimension: mn, mx — the closed-form
    * quantizer, also this layout's kind marker), `path/codebook`
    * (coarse sidecar + occupancy). Lifecycle contract: [[IndexLake]].
    *
    * The SQ8 stats and the coarse codebook are fit on the SAME gated
    * base [[knnIvfSq8]] fits on (single owner: the encodedBase gates),
    * so build+query at nprobe/shortlist equals the on-the-fly
    * composition bit-for-bit (spec-pinned).
    */
  def buildIvfSq8Index(
      base: DataFrame, baseId: Column, baseVec: Column, path: String,
      nlist: Int = 16, seed: Long = 42L, maxFit: Long = 100000L): Unit = {
    val (b, _, _, st) = encodedBase(base, baseId, baseVec)
    val codec = ivfSq8Codec(
      Ann.fitCodebook(b.select(col("b_id"), col("b_emb")), nlist, seed, maxFit), st)
    val raw = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    IndexLake.build(path, codec, raw, codec.encode(raw))
  }

  /** The IVF-SQ8 codec: the [[encodedBase]] gates with the persisted
    * stats' dimension, cell-assigned codes payload (b_id, codes, r_nrm;
    * cell), the quantizer in `sq/` (one row per dimension: mn, mx).
    */
  private def ivfSq8Codec(centroids: Array[Array[Double]], st: Sq8Stats): IndexLake.Codec =
    new IndexLake.Codec(IndexLake.IvfSq8, centroids) {
      def encode(b: DataFrame): DataFrame =
        sq8Encode(finiteScoreable(b).filter(size(col("b_emb")) === st.dim), st)
          .withColumn("cell", Ann.cellExpr(col("b_emb"), coarse))
          .filter(col("cell").isNotNull)
          .select("b_id", "codes", "r_nrm", "cell")
      def gates: String =
        "null embedding, non-finite element (NaN/Inf/null), zero norm, " +
          s"dimension != fitted dim ${st.dim}, or zero-norm reconstruction"
      override def sidecars(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
        import spark.implicits._
        (0 until st.dim).map(i => (i, st.mins(i), st.maxs(i)))
          .toDF("dim_idx", "mn", "mx")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/sq")
      }
    }

  /** The persisted quantizer of an IVF-SQ8 index — bounded collect of
    * D rows, validated dense (a gap would decode every code of that
    * dimension wrongly; fail loudly like Pq.loadPqTables).
    */
  private def loadSqStats(
      spark: org.apache.spark.sql.SparkSession, path: String): Sq8Stats = {
    val rows = spark.read.parquet(s"$path/sq")
      .select("dim_idx", "mn", "mx").collect()
    require(rows.nonEmpty, s"$path/sq is empty -- not an IVF-SQ8 index")
    val d = rows.map(_.getInt(0)).max + 1
    require(rows.length == d && rows.map(_.getInt(0)).distinct.length == d,
      s"$path/sq is not a dense $d-dimension stats table -- corrupt index")
    val sorted = rows.sortBy(_.getInt(0))
    Sq8Stats(sorted.map(_.getDouble(1)), sorted.map(_.getDouble(2)))
  }

  /** KNN against a persisted [[buildIvfSq8Index]] index: the shared
    * probed-cell CODES scan ([[IndexLake.probe]]), ADC on the decoded
    * reconstruction, exact rerank against `source` (the corpus table
    * holding the original vectors — the drift guard of the PQ path
    * applies). Same caller cache contract as [[Pq.queryIvfPqIndex]].
    */
  def queryIvfSq8Index(
      spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, srcId: Column, srcVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, nprobe: Int = 4, shortlist: Int = 0,
      eligible: Option[(DataFrame, Column)] = None): DataFrame = {
    val sl = Pq.shortlistSize(shortlist, k)
    val p = IndexLake.probe(spark, path, IndexLake.IvfSq8, queries, qId, qVec, nprobe, eligible)
    val st = loadSqStats(spark, path)
    val approx = p.scan
      .join(broadcast(p.probed), "cell")
      .withColumn("recon", decodeExpr(col("codes"), st))
      .select(col("q_id"), col("b_id"),
        (Vectors.dot(col("recon"), col("q_emb")) / (col("r_nrm") * col("qp_nrm"))).as("sim"))
    Pq.rerankSource(Ann.topkPerQuery(approx, sl), source, srcId, srcVec, p.q, k)
  }

  /** Incrementally extend a persisted [[buildIvfSq8Index]] index: new
    * rows pass the SAME scoreable gates, encoded with the PERSISTED
    * stats and assigned with the PERSISTED coarse codebook (no re-fit —
    * build+add equals build-all-with-the-same-model). Lifecycle
    * contract: [[IndexLake]].
    */
  def addToIvfSq8Index(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, id: Column, vec: Column): Unit =
    IndexLake.add(spark, path, IndexLake.IvfSq8, rows.select(id.as("b_id"), vec.as("b_emb")))(
      coarse => ivfSq8Codec(coarse, loadSqStats(spark, path)))

  /** Retention-delete from a persisted IVF-SQ8 index ([[IndexLake.remove]]). */
  def removeFromIvfSq8Index(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column): Unit =
    IndexLake.remove(spark, path, IndexLake.IvfSq8, victims, vicId)
}
