package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** OPQ — Optimized Product Quantization (Ge et al., CVPR 2013,
  * parametric form; FAISS `OPQMatrix`): rotate the space BEFORE
  * product-quantizing so every PQ subspace carries comparable variance.
  * Plain PQ slices the raw coordinates into m contiguous blocks; when
  * variance concentrates in a few dimensions (every real embedding
  * model) some subspaces quantize almost nothing while others are
  * starved, wasting code budget. Parametric OPQ fixes this with a
  * closed-form rotation: PCA-rotate, then assign principal components
  * to subspaces by EIGENVALUE ALLOCATION — greedily balancing the
  * per-subspace eigenvalue PRODUCTS (the paper's Gaussian-optimal
  * criterion) — and run ordinary PQ in the rotated space.
  *
  * Composition, not reimplementation: the rotation is [[Pca]]'s
  * unit-sphere basis at FULL dimension (an orthonormal map — on the
  * sphere, rotated L2 equals original-cosine ordering exactly), the
  * codebooks/ADC/shortlist machinery is [[Pq]]'s, and the tail is the
  * shared exact-cosine rerank on the ORIGINAL vectors — every served
  * sim is a true cosine, so the self-verifying knn oracle applies
  * verbatim (the [[Pca.knnPca]] contract). Only WHICH candidates the
  * rotated compressed domain surfaces is approximate.
  *
  * The compressed-domain score is ADC **L2** (‖b̂−q‖² = ‖b̂‖² + ‖q‖²
  * − 2·b̂·q with the reconstruction norm and query norm hoisted):
  * projection offsets shift base and query alike, so L2 differences
  * are offset-invariant — unlike the raw-PQ cosine form, which would
  * divide by shifted norms.
  *
  * Scale shape: identical to [[Pq.knnPq]] — one narrow rotation +
  * encode pass over the corpus (native expressions, whole-stage
  * codegen), queries + LUTs broadcast, per-partition top-k buffers,
  * rerank touches only queries × shortlist pairs.
  */
object Opq {

  /** Eigenvalue allocation: a permutation of 0..d-1 placing each
    * principal component into one of `m` equal-size subspaces such
    * that per-subspace eigenvalue products balance (greedy: largest
    * eigenvalue first, into the non-full subspace with the smallest
    * log-product; deterministic tie-breaks). Returned permutation is
    * subspace-major: positions [j·d/m, (j+1)·d/m) hold subspace j's
    * component indices in ascending order.
    */
  private[graft] def allocate(eigvals: Array[Double], m: Int): Array[Int] = {
    val d = eigvals.length
    require(m >= 1 && d % m == 0, s"dim $d must split into m=$m equal subspaces")
    val cap = d / m
    val sizes = new Array[Int](m)
    val logs = new Array[Double](m)
    val groups = Array.fill(m)(Array.newBuilder[Int])
    // descending eigenvalue, ties by component index — total order
    val order = eigvals.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    order.foreach { idx =>
      var best = -1
      var bestLog = Double.MaxValue
      var g = 0
      while (g < m) {
        if (sizes(g) < cap && logs(g) < bestLog) { best = g; bestLog = logs(g) }
        g += 1
      }
      groups(best) += idx
      sizes(best) += 1
      // clamp: a zero eigenvalue would -Inf the log and absorb every
      // remaining component into one subspace
      logs(best) += math.log(math.max(eigvals(idx), 1e-300))
    }
    groups.flatMap(_.result().sorted)
  }

  /** Fit the permuted unit-sphere rotation for an `m`-subspace OPQ:
    * ONE bounded deterministic sample owns both the dimension (its
    * majority rule) and the PCA basis fit, then the
    * eigenvalue-allocation permutation is baked into the basis so
    * projection emits coordinates already in subspace-major order —
    * one pass, no second shuffle. The single sample matters twice: a
    * separate small dimension probe could disagree with the fit
    * sample's majority on a mixed-dimension corpus (leaving
    * `rot.inputDim ≠ m·sub`, every `d_nrm` NULL, and every query
    * silently empty), and the probe's extra count+scan pass is simply
    * wasted. Single owner for the on-the-fly ([[knnOpq]]) and
    * persisted ([[buildOpqIndex]]) forms: both must rotate IDENTICALLY
    * for the persisted ≡ on-the-fly contract.
    */
  private def fitRotation(
      b0: DataFrame, m: Int, maxFit: Long): Pca.PcaModel = {
    val sample = Ann.sampleVectors(b0.select(col("b_id"), col("b_emb")), maxFit)
    require(sample.nonEmpty, "OPQ needs at least one non-null base vector")
    val d = sample.head.length
    require(d % m == 0, s"embedding dim $d is not divisible by m=$m subspaces")
    val pca = Pca.fitUnitFromSample(sample, dims = d)
    val perm = allocate(pca.eigvals, m)
    pca.copy(
      components = perm.map(pca.components),
      offsets = perm.map(pca.offsets),
      eigvals = perm.map(pca.eigvals))
  }

  /** Query-side rotation: projected coords + the hoisted squared norm.
    * Single owner for [[knnOpq]] and [[queryOpqIndex]] — the persisted
    * ≡ on-the-fly contract holds by construction, not by parallel
    * edits.
    */
  private def projectQueries(q0: DataFrame, rot: Pca.PcaModel): DataFrame =
    Pca.projectUnit(q0, col("q_emb"), col("qp_nrm"), rot, "qp")
      .filter(col("qp").getItem(0).isNotNull)
      .withColumn("qp2", Vectors.dot(col("qp"), col("qp")))

  /** Per-query ADC lookup tables over the rotated queries. */
  private def qLutOf(q: DataFrame, cb: Pq.Codebooks): DataFrame =
    q.select(col("q_id"), col("qp2"), Pq.lutExpr(col("qp"), cb).as("lut"))

  /** Negated ADC-L2 compressed-domain scores ("larger is nearer", the
    * convention every topk owner expects): ‖b̂−q‖² = d_nrm² + ‖q‖² −
    * 2·b̂·q with both norms hoisted. The single arithmetic owner shared
    * by the on-the-fly and persisted serving paths.
    */
  private def adcL2Sims(
      enc: DataFrame, qLut: DataFrame, cb: Pq.Codebooks): DataFrame =
    enc.crossJoin(broadcast(qLut))
      .select(col("q_id"), col("b_id"),
        (-(col("d_nrm") * col("d_nrm") + col("qp2")
          - lit(2.0) * Pq.adcExpr(col("codes"), col("lut"), cb))).as("sim"))

  /** Approximate top-k cosine via rotated-space PQ shortlist + exact
    * rerank. Parameters mirror [[Pq.knnPq]]; the rotation fits on the
    * same bounded deterministic sample discipline ([[Pca.fitUnit]]).
    */
  def knnOpq(
      base: DataFrame, baseId: Column, baseVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, m: Int = 8, kSub: Int = 256, shortlist: Int = 0,
      seed: Long = 42L, maxFit: Long = 20000L): DataFrame = {
    val sl = Pq.shortlistSize(shortlist, k)
    val b0 = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0)
    val rot = fitRotation(b0, m, maxFit)
    val d = rot.inputDim

    val b = Dedup.scopedCache(
      Pca.projectUnit(b0, col("b_emb"), col("b_nrm"), rot, "bp")
        .filter(col("bp").getItem(0).isNotNull))
    val q0 = Ann.validQueries(queries, qId, qVec)
    Ann.requireQueryDim(q0, d)
    val q = Dedup.scopedCache(projectQueries(q0, rot))

    val cb = Pq.fit(b, col("b_id"), col("bp"), m, kSub, seed, maxFit)
    val zeroCent = typedLit(Seq.fill(d)(0.0f))
    val enc = Pq.encode(b, col("b_id"), col("bp"), cb)
      .withColumn("d_nrm", Pq.reconNormExpr(col("codes"), zeroCent, cb))
      .select("b_id", "codes", "d_nrm")
    val short = Ann.topkPerQuery(adcL2Sims(enc, qLutOf(q, cb), cb), sl)
    Pq.rerankExact(short,
      b.select("b_id", "b_emb", "b_nrm"),
      q.select("q_id", "q_emb", "qp_nrm"), k)
  }

  // ------------------------------------------------------------------ //
  // Persisted OPQ index (build / query / add / remove)                 //
  // ------------------------------------------------------------------ //

  /** Bucket count the flat codes lake is partitioned by: buckets give
    * [[removeFromOpqIndex]] surgical per-leaf rewrites and bound file
    * sizes under daily [[addToOpqIndex]] appends (the lex-index bucket
    * argument); queries scan every bucket — a flat OPQ index IS a full
    * compressed scan, that is its contract (cell pruning is IVF-PQ's
    * job).
    */
  val IndexBuckets = 32

  private def bucketExpr(id: Column, nBuckets: Int): Column =
    pmod(graft.functions.Hashing.h60(id.cast("string")),
      lit(nBuckets.toLong)).cast("int")

  /** Build a persisted OPQ index at `path` — the build-once/query-many
    * form of [[knnOpq]], closing the lifecycle gap with the rest of the
    * ANN family (IVF/IVF-PQ/SQ8/IVF-SQ8/lex all persist). Layout:
    *
    *  - `base/bucket=NN`: (b_id, codes, d_nrm) — m bytes of codes per
    *    row, hash-bucketed by id;
    *  - `pq/`: the rotated-space PQ codebooks, with a `rotated = true`
    *    LAYOUT VERSION column — codes of a non-rotated PQ index would
    *    decode through the wrong geometry, so [[loadOpqSidecars]]
    *    refuses its absence;
    *  - `meta/`: (d, m, k_sub, n_buckets) — the add path must bucket
    *    with the BUILD's modulus (a drifted bucket count would strand
    *    rows where removal's per-bucket rewrite still finds them but
    *    the layout contract is broken);
    *  - `rotation/`: the permuted unit-sphere basis
    *    ([[Pca.saveModel]]) — the index-complete marker
    *    (lifecycle contract: [[IndexLake]]): a crash before it leaves
    *    an index every entry point rejects loudly at
    *    [[loadOpqSidecars]], never a half-index.
    *
    * `fitOn`: the train/add split — a growing index fits rotation and
    * codebooks once on a representative sample and is extended with
    * [[addToOpqIndex]], never re-fit per increment.
    */
  def buildOpqIndex(
      base: DataFrame, baseId: Column, baseVec: Column, path: String,
      m: Int = 8, kSub: Int = 256, seed: Long = 42L, maxFit: Long = 20000L,
      nBuckets: Int = IndexBuckets, fitOn: Option[DataFrame] = None): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    def scoreable(f: DataFrame) = f.select(baseId.as("b_id"), baseVec.as("b_emb"))
      .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
      .filter(col("b_nrm") > 0)
    val fitB = scoreable(fitOn.getOrElse(base))
    val rot = fitRotation(fitB, m, maxFit)
    val bFit = Dedup.scopedCache(
      Pca.projectUnit(fitB, col("b_emb"), col("b_nrm"), rot, "bp")
        .filter(col("bp").getItem(0).isNotNull))
    val codec = new OpqCodec(rot, Pq.fit(bFit, col("b_id"), col("bp"), m, kSub, seed, maxFit), nBuckets)
    val raw = base.select(baseId.as("b_id"), baseVec.as("b_emb"))
    // default build (fitOn empty): the cached projected fit frame feeds
    // BOTH the codebook fit and the encode — one corpus projection
    // pass, knnOpq's exact shape (re-projecting would double the
    // dominant build cost). The train/add split genuinely encodes a
    // different frame and pays its own projection.
    val payload = fitOn match {
      case None => encodeProjected(bFit.filter(col("b_id").isNotNull), codec)
      case Some(_) => codec.encode(raw)
    }
    IndexLake.build(path, codec, raw, payload)
  }

  /** The OPQ codec: rotate with the persisted basis, PQ-encode, carry
    * the reconstruction norm, assign the id bucket — payload (b_id,
    * codes, d_nrm; bucket). Row universe identical to [[knnOpq]]'s
    * (zero-norm / ragged / null-coding rows drop); null ids drop too —
    * an id-keyed index cannot serve or retention-delete them. Sidecars:
    * `pq/` (rotated-space codebooks, `rotated` layout column), `meta/`,
    * and `rotation/` — the index-complete marker, written last.
    */
  private class OpqCodec(val rot: Pca.PcaModel, val cb: Pq.Codebooks, val nBuckets: Int)
      extends IndexLake.Codec(IndexLake.Opq, Array.empty) {
    def encode(b: DataFrame): DataFrame =
      encodeProjected(
        Pca.projectUnit(
          b.filter(col("b_id").isNotNull)
            .withColumn("b_nrm", Vectors.norm2(col("b_emb")))
            .filter(col("b_nrm") > 0),
          col("b_emb"), col("b_nrm"), rot, "bp")
          .filter(col("bp").getItem(0).isNotNull),
        this)
    def gates: String =
      s"null id, null or zero-norm vector, dimension != index dim ${rot.inputDim}, or uncodable"
    override def sidecars(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
      import spark.implicits._
      Pq.writePqTables(spark, path, cb, "rotated")
      // meta persists the EFFECTIVE kSub (a small fit sample clamps the
      // requested one — Pq.fitFromSample) so loadOpqSidecars can demand
      // exact equality with the loaded code table
      Seq((rot.inputDim, cb.m, cb.tables(0).length, nBuckets))
        .toDF("d", "m", "k_sub", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      Pca.saveModel(spark, rot, s"$path/rotation") // marker LAST
    }
  }

  /** The encode tail over an ALREADY-projected frame (`bp` column). */
  private def encodeProjected(proj: DataFrame, codec: OpqCodec): DataFrame =
    Pq.encode(proj, col("b_id"), col("bp"), codec.cb)
      .withColumn("d_nrm",
        Pq.reconNormExpr(col("codes"), typedLit(Seq.fill(codec.rot.inputDim)(0.0f)), codec.cb))
      .withColumn("bucket", bucketExpr(col("b_id"), codec.nBuckets))
      .select("b_id", "codes", "d_nrm", "bucket")

  /** The persisted rotation + codebooks + layout meta of an OPQ index —
    * bounded collects, validated before use; refuses a missing
    * rotation (half-built or not an OPQ index), a non-`rotated` pq
    * table (drifted layout), a sparse code table, and meta that
    * disagrees with the loaded artifacts (corrupt index).
    */
  private[operators] def loadOpqSidecars(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Pca.PcaModel, Pq.Codebooks, Int) = {
    require(IndexLake.fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(s"$path/rotation")),
      s"$path has no rotation sidecar -- not a completed OPQ index " +
        "(a crashed buildOpqIndex leaves this state; rebuild)")
    val rot = Pca.loadModel(spark, s"$path/rotation")
    // shared parse + dense-table validation with the IVF-PQ loader
    // (Pq.parsePqTables — single owner), differing only in the
    // layout-version column
    val cb = Pq.parsePqTables(spark, path, markerCol = "rotated",
      missingMarkerMsg =
        s"$path/pq lacks the rotated layout marker -- its codes were built " +
          "in a different geometry; rebuild with buildOpqIndex")
    val kSub = cb.tables(0).length
    val meta = spark.read.parquet(s"$path/meta")
      .select("d", "m", "k_sub", "n_buckets").head()
    // k_sub equality too (meta stores the EFFECTIVE table size): a pq
    // sidecar from a different build with a smaller code budget is
    // dense and `rotated` — without this gate it would load cleanly
    // and base codes past its range would index IN-BOUNDS into the
    // next subspace's LUT region, serving garbage sims with no error
    require(meta.getInt(0) == rot.inputDim && meta.getInt(1) == cb.m &&
      meta.getInt(2) == kSub && cb.m * cb.sub == rot.inputDim,
      s"$path meta (d=${meta.getInt(0)}, m=${meta.getInt(1)}, " +
        s"k_sub=${meta.getInt(2)}) disagrees with the loaded rotation " +
        s"(d=${rot.inputDim}) / codebooks (m=${cb.m}, k_sub=$kSub, " +
        s"d=${cb.m * cb.sub}) -- mixed-build sidecars; rebuild the index")
    require(meta.getInt(3) >= 1,
      s"$path meta carries n_buckets=${meta.getInt(3)} -- corrupt index")
    (rot, cb, meta.getInt(3))
  }

  /** KNN against a persisted [[buildOpqIndex]] index: rotate the
    * queries with the PERSISTED basis, scan the flat codes lake (m
    * bytes per row — the whole point of the persisted form), ADC-L2
    * shortlist against the broadcast per-query LUTs, then exact rerank
    * against `source` — the table holding the ORIGINAL vectors, which
    * must cover every indexed id (enforced inside the rerank join).
    * Reported sims are true cosines — the self-verifying knn oracle
    * contract, unchanged. Same two-cache caller contract as
    * [[Pq.queryIvfPqIndex]] (wrap in [[Dedup.scoped]] or clear).
    */
  def queryOpqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, srcId: Column, srcVec: Column,
      queries: DataFrame, qId: Column, qVec: Column,
      k: Int, shortlist: Int = 0): DataFrame = {
    IndexLake.requireServing(spark, path, IndexLake.Opq, "query")
    val (rot, cb, _) = loadOpqSidecars(spark, path)
    val sl = Pq.shortlistSize(shortlist, k)
    val q0 = Ann.validQueries(queries, qId, qVec)
    Ann.requireQueryDim(q0, rot.inputDim)
    val q = Dedup.scopedCache(projectQueries(q0, rot))
    // a fully-emptied base (every id retention-deleted) has no data
    // files and dies in schema inference with an error naming neither
    // the index nor the state — refuse by name instead
    val enc =
      try spark.read.parquet(s"$path/base")
      catch {
        case e: org.apache.spark.sql.AnalysisException if graft.etl.Compact.emptyLakeRead(e) =>
          throw new IllegalArgumentException(s"the OPQ index at $path holds zero code rows " +
            "(every id removed?) -- rebuild or add rows before serving", e)
      }
    // shared projection + ADC arithmetic owners with knnOpq —
    // persisted ≡ on-the-fly holds by construction
    val short = Ann.topkPerQuery(adcL2Sims(enc, qLutOf(q, cb), cb), sl)
    Pq.rerankSource(short, source, srcId, srcVec, q.select("q_id", "q_emb", "qp_nrm"), k)
  }

  /** Incrementally extend a persisted [[buildOpqIndex]] index: new rows
    * are rotated AND encoded with the PERSISTED basis + codebooks (no
    * re-fit — build+add equals build-all-with-the-same-fit), appended
    * to their id buckets. Lifecycle contract: [[IndexLake]].
    */
  def addToOpqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, id: Column, vec: Column): Unit =
    IndexLake.add(spark, path, IndexLake.Opq, rows.select(id.as("b_id"), vec.as("b_emb"))) { _ =>
      val (rot, cb, nBuckets) = loadOpqSidecars(spark, path)
      new OpqCodec(rot, cb, nBuckets)
    }

  /** Delete ids from a persisted [[buildOpqIndex]] index — the retention
    * verb for the flat layout ([[IndexLake.remove]] with the partition
    * key `bucket` and no occupancy: a flat layout has no probe
    * structure to keep honest). An emptied or absent base is a no-op.
    */
  def removeFromOpqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      victims: DataFrame, vicId: Column): Unit =
    IndexLake.remove(spark, path, IndexLake.Opq, victims, vicId)
}
