package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Compact

/** Lifecycle core of the persisted vector indexes — plain IVF
  * ([[Ann]]), IVF-PQ ([[Pq]]), IVF-SQ8 ([[Sq]]) and the flat OPQ lake
  * ([[Opq]]). Every family persists `path/base`, a parquet lake
  * partitioned by one key (`cell` = coarse quantizer cell for the IVF
  * family, `bucket` = id hash for OPQ), plus model sidecars. What
  * differs between them is only their [[Codec]]: how the model is fit
  * or loaded, which rows are scoreable and how they encode, which
  * sidecars carry the model, and (in the family's own query verb) the
  * score expression. Build, add, remove and the probed-cell scan are
  * written once, here.
  *
  * THE LIFECYCLE CONTRACT, shared by every family:
  *  - The index-complete MARKER (`codebook/` for the IVF family — the
  *    coarse codebook plus per-cell occupancy — and `rotation/` for
  *    OPQ) is INVALIDATED FIRST by a build, before the base lake is
  *    touched, and WRITTEN LAST, after the base and the family
  *    sidecars. Every crash window of an in-place rebuild therefore
  *    refuses loudly (no marker) instead of pairing a new base with a
  *    stale model.
  *  - OCCUPANCY (scoreable rows per cell, the live-cell set the probe
  *    ranks over) is counted from exactly the files a write produced —
  *    the listing diff around the write — never by re-evaluating the
  *    caller's lazy plan, which a nondeterministic input would make
  *    disagree with what landed on disk.
  *  - REMOVAL rewrites only the leaves holding a victim, gates the
  *    rewrite per leaf (kept == read − victims) before any swap, writes
  *    the decremented occupancy BEFORE the swaps (absolute counts, so a
  *    retry after any crash converges), then swaps leaf by leaf.
  *  - Sidecars are replaced by a two-rename swap ([[placeSidecar]]).
  *  - The verbs are NOT TRANSACTIONAL: a reader racing a swap can see a
  *    missing directory for an instant, and a crash can park a leaf at
  *    `base__remove_old` — every verb then refuses until it is
  *    recovered ([[requireServing]]). Coordinate writers externally.
  *
  * The kind of an index is read from those markers ([[kindOf]]), so a
  * verb of one family refuses another family's index by name, with
  * the verb to use instead.
  */
private[graft] object IndexLake {

  /** One persisted index family. Its verbs are
    * `owner.{build,addTo,removeFrom,query}<suffix>Index` — the single
    * verb table every guard's remedy comes from. `scoreable` selects
    * the persisted rows a query can score (and occupancy counts).
    */
  final class Kind(val name: String, owner: String, suffix: String,
      val partCol: String, val scoreable: Column) {
    def verb(v: String): String = v match {
      case "add" => s"$owner.addTo${suffix}Index"
      case "remove" => s"$owner.removeFrom${suffix}Index"
      case _ => s"$owner.$v${suffix}Index"
    }
    /** IVF family: cell-partitioned, with the occupancy-carrying codebook. */
    def coarse: Boolean = partCol == "cell"
    def marker: String = if (coarse) "codebook" else "rotation"
    override def toString: String = (if ("AEIOU".contains(name.head)) "an " else "a ") + name
  }

  // plain IVF persists zero-norm rows (ids stay listed) but cannot score them
  val Ivf = new Kind("plain IVF", "Ann", "Ivf", "cell", col("b_nrm") > 0)
  val IvfPq = new Kind("IVF-PQ", "Pq", "IvfPq", "cell", lit(true))
  val IvfSq8 = new Kind("IVF-SQ8", "Sq", "IvfSq8", "cell", lit(true))
  val Opq = new Kind("OPQ", "Opq", "Opq", "bucket", lit(true))

  /** A family's fitted or loaded model. `coarse` is the IVF family's
    * coarse codebook (empty for OPQ).
    */
  abstract class Codec(val kind: Kind, val coarse: Array[Array[Double]]) {
    /** Scoreable payload rows of a (b_id, b_emb) frame, carrying the
      * partition column — the row universe build, add and the on-the-fly
      * operator share.
      */
    def encode(b: DataFrame): DataFrame
    /** The gates `encode` applies, named when a non-empty input writes nothing. */
    def gates: String
    /** Family sidecars a build writes after the base, before the codebook marker. */
    def sidecars(spark: SparkSession, path: String): Unit = ()
  }

  private[operators] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sibling(p: Path, suffix: String): Path = new Path(p.getParent, p.getName + suffix)

  /** The kind of the index at `path`, from the on-disk markers (one
    * directory listing, no Spark job): a `codebook/` sidecar makes it
    * IVF-family — IVF-PQ with `pq/`, IVF-SQ8 with `sq/`, plain IVF with
    * neither; without one, OPQ's `meta/` or `rotation/` make it OPQ.
    * None when no marker tells (nothing there, or a build crashed
    * before its markers landed).
    */
  def kindOf(fs: FileSystem, path: String): Option[Kind] = {
    val p = new Path(path)
    val names = if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet else Set.empty[String]
    if (names("codebook")) {
      require(!(names("pq") && names("sq")),
        s"$path carries conflicting quantizer sidecars (pq and sq) -- corrupt index")
      Some(if (names("pq")) IvfPq else if (names("sq")) IvfSq8 else Ivf)
    } else if (names("meta") || names("rotation")) Some(Opq)
    else None
  }

  /** Refuse another family's index by name, with the verb that serves it. */
  def requireKind(fs: FileSystem, path: String, kind: Kind, verb: String): Unit =
    kindOf(fs, path).filterNot(_ eq kind).foreach(found =>
      throw new IllegalArgumentException(
        s"$path is $found index, not ${kind.name} -- use ${found.verb(verb)}"))

  /** Guards of every build, add and query: no parked crash residue
    * under the base (`base__remove_old`, `base__compact_old` — a leaf's
    * only copy may sit there) or beside the index root
    * (`path__refit_old`), and the right kind. Single owner of the
    * parked rule: [[Compact.requireServable]].
    */
  def requireServing(spark: SparkSession, path: String, kind: Kind, verb: String): Unit = {
    val fs = fsOf(spark, path)
    Compact.requireServable(fs, new Path(path, "base"))
    Compact.requireServable(fs, new Path(path))
    requireKind(fs, path, kind, verb)
  }

  /** Build: marker invalidated, base overwritten with `payload`,
    * family sidecars, codebook marker with the occupancy of the written
    * files. `payload` is normally `codec.encode(input)`; a family may
    * hand in an equal frame it already holds (OPQ reuses its cached
    * projection).
    */
  def build(path: String, codec: Codec, input: DataFrame, payload: DataFrame): Unit = {
    val spark = input.sparkSession
    requireServing(spark, path, codec.kind, "build")
    val fs = fsOf(spark, path)
    fs.delete(new Path(path, codec.kind.marker), true)
    val members = write(spark, fs, path, codec, payload, input, build = true)
    codec.sidecars(spark, path)
    if (codec.kind.coarse) writeCodebookSidecar(spark, path, codec.coarse, members)
  }

  /** Add: `rows` (b_id, b_emb) encoded by the PERSISTED model (no
    * re-fit — build+add ≡ build-all under the same model), appended,
    * and the occupancy advanced by exactly the appended files' counts.
    * `load` receives the persisted coarse codebook (empty for OPQ).
    */
  def add(spark: SparkSession, path: String, kind: Kind, rows: DataFrame)(
      load: Array[Array[Double]] => Codec): Unit = {
    requireServing(spark, path, kind, "add")
    val prev = if (kind.coarse) Some(readCodebookSidecar(spark, path)) else None
    val codec = load(prev.fold(Array.empty[Array[Double]])(_._1))
    val delta = write(spark, fsOf(spark, path), path, codec, codec.encode(rows), rows, build = false)
    prev.foreach { case (coarse, members) =>
      writeCodebookSidecar(spark, path, coarse, coarse.indices
        .map(c => c -> (members.getOrElse(c, 0L) + delta.getOrElse(c, 0L))).toMap)
    }
  }

  /** The one write step: clustered partitioned write (overwrite for a
    * build, append for an add), the fail-loud guard for a non-empty
    * input that wrote no row, and per-cell scoreable counts of the
    * files this write produced (the listing diff; with no file before
    * the write the whole lake IS the diff).
    */
  private def write(
      spark: SparkSession, fs: FileSystem, path: String, codec: Codec,
      payload: DataFrame, input: DataFrame, build: Boolean): Map[Int, Long] = {
    val kind = codec.kind
    val base = s"$path/base"
    val before = if (build) Set.empty[String] else listDataFiles(fs, base)
    payload.transform(clusterForWrite(kind.partCol))
      .write.partitionBy(kind.partCol).mode(if (build) "overwrite" else "append").parquet(base)
    val fresh = (listDataFiles(fs, base) -- before).toSeq
    require(fresh.nonEmpty || input.isEmpty,
      s"no row of a non-empty input was ${kind.name}-scoreable for $path -- every row " +
        s"failed a gate: ${codec.gates}; nothing was written")
    if (fresh.isEmpty || !kind.coarse) Map.empty
    else (if (before.isEmpty) spark.read.parquet(base)
          else spark.read.option("basePath", base).parquet(fresh: _*))
      .filter(kind.scoreable)
      .groupBy(kind.partCol).agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // <= nlist rows
  }

  /** Retention delete — the re-index semantics of the reference
    * file-indexing system (`file_indexing_system.py`, lines 200-244) as
    * a surgical leaf rewrite instead of a rebuild. Victims are
    * MATERIALIZED once (a nondeterministic caller plan could otherwise
    * agree with itself at the gate while leaving "removed" rows on
    * disk), then [[rewriteLeaves]]; the IVF family's decremented
    * occupancy lands before the swaps. Removing ids that are not indexed touches no
    * file; an emptied or absent base is a no-op. Cells never move:
    * remove(build+add) ≡ build-without-the-victims.
    */
  def remove(spark: SparkSession, path: String, kind: Kind,
      victims: DataFrame, vicId: Column): Unit = {
    val fs = fsOf(spark, path)
    requireKind(fs, path, kind, "remove")
    val bp = new Path(path, "base")
    requireRewritable(fs, bp)
    if (listDataFiles(fs, bp.toString).isEmpty) return
    require(fs.exists(new Path(path, kind.marker)),
      s"$path has no ${kind.marker} sidecar -- not a completed ${kind.name} index " +
        s"(a crashed build leaves this state; rebuild with ${kind.verb("build")})")
    val sidecar = if (kind.coarse) Some(readCodebookSidecar(spark, path)) else None
    val vicDir = sibling(bp, "__remove_vic")
    fs.delete(vicDir, true)
    try {
      victims.select(vicId.as("b_id")).distinct()
        .write.mode("overwrite").parquet(vicDir.toString)
      rewriteLeaves(spark, fs, bp, "b_id", kind.partCol, kind.scoreable,
        spark.read.parquet(vicDir.toString)) { kept =>
        // occupancy must never overcount a swapped-out cell (a GHOST
        // cell: probed, silently empty, unhealable); written first, an
        // emptied cell reads members=0 while its victims still sit on
        // disk, so a retry finds and completes them
        sidecar.foreach { case (coarse, prev) =>
          writeCodebookSidecar(spark, path, coarse, prev ++ kept)
        }
      }
    } finally fs.delete(vicDir, true)
  }

  /** Refuse a lake whose earlier swap crashed: a parked `__remove_old`
    * tree with files may hold a leaf's only copy (file-less residue is
    * cleared), and any other verb's parked sibling blocks equally — an
    * anti-join rewrite against a leaf-less lake cements the loss.
    */
  def requireRewritable(fs: FileSystem, lake: Path): Unit = {
    Compact.clearOrRefuseParked(fs, sibling(lake, "__remove_old"), "removal")
    Compact.requireServable(fs, lake, action = "removal")
    fs.delete(sibling(lake, "__remove_tmp"), true)
  }

  /** The leaf rewrite shared by every partitioned index lake (the
    * vector bases and the lexical postings): ONE narrow (id, leaf) pass
    * answers both which leaves hold a victim and the per-leaf
    * (rows, victims) counts; the affected leaves are rewritten minus the
    * victims in one clustered job OUTSIDE the lake (a work dir inside
    * would read as a partition); a per-leaf row-count gate runs before
    * any swap, so a lossy rewrite aborts with the lake untouched;
    * `beforeSwap` gets the scoreable rows kept per affected leaf; then
    * per-leaf two-rename swaps ([[Compact.swapRewrittenLeaves]]).
    * Idempotent: over already-clean leaves it finds no victim and
    * touches nothing. `vic` is a materialized frame holding `idCol`.
    */
  def rewriteLeaves(
      spark: SparkSession, fs: FileSystem, lake: Path, idCol: String,
      partCol: String, scoreable: Column, vic: DataFrame)(
      beforeSwap: Map[Int, Long] => Unit): Unit = {
    requireRewritable(fs, lake)
    if (listDataFiles(fs, lake.toString).isEmpty) return
    val ids = vic.select(idCol)
    val src = spark.read.parquet(lake.toString)
    val leafStats = src.select(col(idCol), col(partCol))
      .join(ids.withColumn("__v", lit(1)), Seq(idCol), "left")
      .groupBy(partCol)
      .agg(count(lit(1)).as("n"), count(col("__v")).as("nv"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val affected = leafStats.collect { case (c, (_, nv)) if nv > 0 => c }.toArray.sorted
    if (affected.isEmpty) return
    val tmpRoot = sibling(lake, "__remove_tmp")
    // clustered by the partition key so each rewritten leaf lands as
    // ONE file, not one per task (which would undo compaction)
    src.filter(col(partCol).isin(affected.map(Int.box): _*))
      .join(ids, Seq(idCol), "left_anti")
      .transform(clusterForWrite(partCol))
      .write.partitionBy(partCol).mode("overwrite").parquet(tmpRoot.toString)
    // (rows, scoreable rows) per rewritten leaf; an all-victims
    // rewrite writes no file at all — guard the schema-less read
    val tmpCnt: Map[Int, (Long, Long)] =
      if (listDataFiles(fs, tmpRoot.toString).isEmpty) Map.empty
      else spark.read.parquet(tmpRoot.toString)
        .groupBy(partCol)
        .agg(count(lit(1)), count(when(scoreable, lit(1))))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    affected.foreach { c =>
      val (n, nv) = leafStats(c)
      val kept = tmpCnt.get(c).fold(0L)(_._1)
      if (kept != n - nv) {
        fs.delete(tmpRoot, true)
        throw new IllegalStateException(
          s"removal rewrite of $lake $partCol=$c would lose rows " +
            s"($n read, $nv victims, $kept rewritten) -- aborted, index untouched")
      }
    }
    beforeSwap(affected.map(c => c -> tmpCnt.get(c).fold(0L)(_._2)).toMap)
    // an emptied leaf has no rewritten counterpart: parked, then dropped
    Compact.swapRewrittenLeaves(fs, lake, tmpRoot, sibling(lake, "__remove_old"),
      affected.map(c => s"$partCol=$c").toSeq)
  }

  /** A probed-cell scan: the coarse codebook, the valid queries
    * (q_id, q_emb, qp_nrm), the probe frame (q_id, cell, q_emb,
    * qp_nrm) and the scoreable, eligible base rows of the probed cells.
    */
  final case class Probe(
      coarse: Array[Array[Double]], q: DataFrame, probed: DataFrame, scan: DataFrame)

  /** The probed-cell scan every IVF-family query verb scores over:
    * serving and kind guards, ONE codebook sidecar collect (the live
    * probe centroids are re-derived from its double centroids through
    * the single float cast, so ranking is bit-identical to the
    * on-the-fly operators), the query-dimension check, the probe, the
    * partition-pruned base read of only the probed cells, and the
    * `eligible` PRE-filter — ineligible ids are semi-joined out before
    * scoring, so the top-k ranks over eligible candidates only.
    *
    * CALLER CONTRACT: caches the (q_id, cell) probe frame — wrap in
    * [[Dedup.scoped]] or clear the cache.
    */
  def probe(
      spark: SparkSession, path: String, kind: Kind,
      queries: DataFrame, qId: Column, qVec: Column, nprobe: Int,
      eligible: Option[(DataFrame, Column)]): Probe = {
    requireServing(spark, path, kind, "query")
    val (coarse, members) = readCodebookSidecar(spark, path)
    val live = members.collect { case (c, m) if m > 0 => c }.toSeq
    // every scoreable row removed: refuse by name rather than answer
    // from nothing (or die in schema inference over a file-less lake)
    require(live.nonEmpty, s"the ${kind.name} index at $path has no live cell " +
      "(every id removed?) -- rebuild or add rows before serving")
    val centDf = Ann.centroidFrame(spark, coarse) // (cell, centroid, c_nrm)
      .filter(col("cell").isin(live.map(Int.box): _*)) // live cells: see Ann.topProbeCells
    val q = Ann.validQueries(queries, qId, qVec)
    Ann.requireQueryDim(q, coarse(0).length)
    // the probe frame feeds both the pruning list and the scoring
    // join; it is queries × nprobe rows — not driver-bounded for a big
    // batch — so it is CACHED, and only the <= nlist cell list collected
    val tc = Dedup.scopedCache(Ann.topProbeCells(q, centDf, nprobe))
    val cells = tc.select("cell").distinct().collect().map(_.getInt(0))
    val base = spark.read.parquet(s"$path/base")
      .filter(col("cell").isin(cells.map(Int.box): _*))
      .filter(kind.scoreable)
    val scan = eligible.fold(base) { case (el, elId) =>
      base.join(el.select(elId.as("b_id")), Seq("b_id"), "left_semi")
    }
    Probe(coarse, q, tc.join(q, "q_id"), scan)
  }

  /** The persisted coarse codebook (double centroids, for assignment
    * parity with the build) plus per-cell occupancy, validated dense.
    * Bounded collect: <= nlist rows.
    */
  def readCodebookSidecar(
      spark: SparkSession, path: String): (Array[Array[Double]], Map[Int, Long]) = {
    val cbRows = spark.read.parquet(s"$path/codebook")
      .select("cell", "centroid_d", "members").collect()
    require(cbRows.nonEmpty, s"$path/codebook is empty -- not an index")
    val byCell = cbRows.sortBy(_.getInt(0))
    require(
      byCell.map(_.getInt(0)).sameElements(byCell.indices),
      s"$path/codebook cells are not dense 0..${byCell.length - 1} -- corrupt index")
    (byCell.map(_.getSeq[Double](1).toArray),
      byCell.map(r => r.getInt(0) -> r.getLong(2)).toMap)
  }

  /** The codebook sidecar: centroids in both precisions (via
    * [[Ann.codebookFrame]], the single owner of the float cast) plus
    * occupancy.
    */
  private def writeCodebookSidecar(
      spark: SparkSession, path: String,
      codebook: Array[Array[Double]], members: Map[Int, Long]): Unit = {
    import spark.implicits._
    val mdf = members.toSeq.toDF("__cell", "__m")
    placeSidecar(fsOf(spark, path), new Path(path, "codebook"),
      Ann.codebookFrame(spark, codebook)
        .join(mdf, col("cell") === col("__cell"), "left")
        .select(col("cell"), col("centroid"), col("centroid_d"),
          coalesce(col("__m"), lit(0L)).as("members"))
        .coalesce(1))
  }

  /** Write `df` as the sidecar at `target`: into a sibling
    * `__tmp`, then swapped in over an existing sidecar (the old one is
    * parked, never deleted before the new one is in place) or renamed
    * into place when there is none.
    */
  def placeSidecar(fs: FileSystem, target: Path, df: DataFrame): Unit = {
    val tmp = sibling(target, "__tmp")
    val old = sibling(target, "__old")
    fs.delete(tmp, true); fs.delete(old, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(target)) Compact.swapInto(fs, tmp, target, old)
    else require(fs.rename(tmp, target), s"could not place sidecar at $target")
  }

  /** Cluster rows by the partition key before a `partitionBy` write —
    * the discipline every index build/append/rewrite shares. A bare
    * partitionBy lets every task fragment every key it holds rows for
    * (tasks × keys files); a plain `repartition(key)` pins each key's
    * ENTIRE payload to one task, so a hot cell serializes into one
    * writer and a tiny build pays one task per key. REBALANCE gives
    * both ends: rows cluster by key, AQE coalesces small partitions,
    * and `optimizeSkewsInRebalancePartitions` (on by default) SPLITS an
    * oversized key across writers by `advisoryPartitionSizeInBytes`.
    */
  def clusterForWrite(partCol: String)(df: DataFrame): DataFrame =
    df.hint("rebalance", col(partCol))

  /** All data-file paths under `dir`, recursive (empty when `dir` does
    * not exist). Hidden-name rule shared with
    * [[Compact.isHiddenName]], applied to EVERY path segment below
    * `dir` — a crashed write's `_temporary/.../part-x.parquet` must not
    * count as data (readers don't see it, so neither may the listing
    * diff). Plain `listStatus` walks, not `listFiles(recursive)`: the
    * located statuses of the latter cost a permission lookup per file
    * on the local filesystem (~100 ms for a 16-cell base).
    */
  def listDataFiles(fs: FileSystem, dir: String): Set[String] = {
    def walk(p: Path): Iterator[String] = fs.listStatus(p).iterator.flatMap { st =>
      if (Compact.isHiddenName(st.getPath.getName)) Iterator.empty
      else if (st.isDirectory) walk(st.getPath)
      else Iterator.single(st.getPath.toString)
    }
    val base = fs.makeQualified(new Path(dir))
    if (fs.exists(base)) walk(base).toSet else Set.empty
  }
}
