package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Opq, Pq, Sq}

/** The persisted vector-index lifecycle shared by plain IVF, IVF-PQ,
  * IVF-SQ8 and OPQ ([[graft.operators.IndexLake]]): one lifecycle run
  * per kind, the cross-kind verb guards as one table, and the
  * index-dimension gate of plain IVF.
  */
class IndexLakeSpec extends SparkSpecBase {

  import spark.implicits._

  private val dim = 16

  /** Eight direction clusters in 16 dims, jittered per row. */
  private def vec(id: Int): Array[Float] = {
    val rnd = new scala.util.Random(id)
    val a = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 0.2f)
    a((id % 8) * 2) += 1.0f
    a((id % 8) * 2 + 1) += 0.5f
    a
  }

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_lake_$name").toString + "/ix"

  private val id = col("vec_id")
  private val emb = col("embedding")

  /** Per-kind verbs over one corpus/query frame. */
  private case class Family(
      name: String,
      build: (DataFrame, String) => Unit,
      add: (String, DataFrame) => Unit,
      remove: (String, DataFrame) => Unit,
      query: (String, DataFrame, DataFrame, Int) => DataFrame,
      verbs: Map[String, String])

  private val families = Seq(
    Family("plain IVF",
      (b, p) => Ann.buildIvfIndex(b, id, emb, p, nlist = 4),
      (p, r) => Ann.addToIvfIndex(spark, p, r, id, emb),
      (p, v) => Ann.removeFromIvfIndex(spark, p, v, id),
      (p, _, q, k) => Ann.queryIvfIndex(spark, p, q, id, emb, k = k, nprobe = 4),
      Map("add" -> "Ann.addToIvfIndex", "remove" -> "Ann.removeFromIvfIndex",
        "query" -> "Ann.queryIvfIndex")),
    Family("IVF-PQ",
      (b, p) => Pq.buildIvfPqIndex(b, id, emb, p, nlist = 4, m = 4, kSub = 8),
      (p, r) => Pq.addToIvfPqIndex(spark, p, r, id, emb),
      (p, v) => Pq.removeFromIvfPqIndex(spark, p, v, id),
      (p, src, q, k) => Pq.queryIvfPqIndex(spark, p, src, id, emb, q, id, emb,
        k = k, nprobe = 4, shortlist = 100),
      Map("add" -> "Pq.addToIvfPqIndex", "remove" -> "Pq.removeFromIvfPqIndex",
        "query" -> "Pq.queryIvfPqIndex")),
    Family("IVF-SQ8",
      (b, p) => Sq.buildIvfSq8Index(b, id, emb, p, nlist = 4),
      (p, r) => Sq.addToIvfSq8Index(spark, p, r, id, emb),
      (p, v) => Sq.removeFromIvfSq8Index(spark, p, v, id),
      (p, src, q, k) => Sq.queryIvfSq8Index(spark, p, src, id, emb, q, id, emb,
        k = k, nprobe = 4, shortlist = 100),
      Map("add" -> "Sq.addToIvfSq8Index", "remove" -> "Sq.removeFromIvfSq8Index",
        "query" -> "Sq.queryIvfSq8Index")),
    Family("OPQ",
      (b, p) => Opq.buildOpqIndex(b, id, emb, p, m = 4, kSub = 8),
      (p, r) => Opq.addToOpqIndex(spark, p, r, id, emb),
      (p, v) => Opq.removeFromOpqIndex(spark, p, v, id),
      (p, src, q, k) => Opq.queryOpqIndex(spark, p, src, id, emb, q, id, emb,
        k = k, shortlist = 100),
      Map("add" -> "Opq.addToOpqIndex", "remove" -> "Opq.removeFromOpqIndex",
        "query" -> "Opq.queryOpqIndex")))

  /** (path, length, mtime) of every data file under `p`. */
  private def snapshot(p: String): Seq[(String, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Ann.listDataFiles(fs, p).toSeq.sorted.map { f =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      (f, st.getLen, st.getModificationTime)
    }
  }

  test("lifecycle on every kind: build → add → remove → compact serves exactly the live ids") {
    val built = rows(0 until 40)
    val added = rows(40 until 60)
    val victims = rows(0 until 60).filter(id % 5 === 0)
    val expected = (0 until 60).filterNot(_ % 5 == 0).map(_.toLong).toSet
    val live = rows(0 until 60).filter(id % 5 =!= 0)
    for (f <- families) {
      val p = tmp(f.name.replace(' ', '_'))
      f.build(built, p)
      f.add(p, added)
      f.remove(p, victims)
      Ann.compactIndex(spark, p)
      // every live vector, queried with itself, is served back at rank
      // 1 (probing every cell, shortlist ≥ corpus: the rerank is exact);
      // no victim is ever served
      val served = Dedup.scoped {
        f.query(p, live, live, 1).filter(col("rank") === 1)
          .select("q_id", "b_id").as[(Long, Long)].collect()
      }
      assert(served.forall { case (q, b) => q == b }, s"${f.name}: not self-served: ${served.toSeq}")
      assert(served.map(_._2).toSet == expected, s"${f.name}: served ids differ")
      assert(Ann.indexIds(spark, p).as[Long].collect().toSet == expected,
        s"${f.name}: stored ids differ")
      if (f.name != "OPQ") {
        // occupancy is exactly the scoreable rows on disk, per cell
        val base = spark.read.parquet(s"$p/base")
        val onDisk = (if (f.name == "plain IVF") base.filter(col("b_nrm") > 0) else base)
          .groupBy("cell").count().as[(Int, Long)].collect().toMap
        val members = spark.read.parquet(s"$p/codebook").select("cell", "members")
          .as[(Int, Long)].collect().toMap.filter(_._2 > 0)
        assert(members == onDisk, s"${f.name}: occupancy $members != on-disk $onDisk")
        assert(Ann.indexOccupancy(spark, p).occupancy == expected.size)
      }
      // removing ids that are not indexed touches no file
      val before = snapshot(p)
      f.remove(p, rows(1000 until 1003))
      assert(snapshot(p) == before, s"${f.name}: no-op remove touched the index")
    }
  }

  test("every verb refuses another kind's index by name, naming the verb for the kind found") {
    val corpus = rows(0 until 40)
    val paths = families.map { f =>
      val p = tmp("kind_" + f.name.replace(' ', '_'))
      f.build(corpus, p)
      f.name -> p
    }.toMap
    val before = paths.map { case (k, p) => k -> snapshot(p) }
    val qs = rows(0 until 2)
    for (caller <- families; found <- families if caller.name != found.name;
         verb <- Seq("add", "remove", "query")) {
      val p = paths(found.name)
      val e = intercept[IllegalArgumentException] {
        verb match {
          case "add" => caller.add(p, rows(100 until 102))
          case "remove" => caller.remove(p, qs)
          case "query" => Dedup.scoped(caller.query(p, corpus, qs, 2).collect())
        }
      }
      assert(e.getMessage.contains(found.verbs(verb)),
        s"${caller.name} $verb on ${found.name}: ${e.getMessage}")
    }
    paths.foreach { case (k, p) => assert(snapshot(p) == before(k), s"a refused verb touched the $k index") }
  }

  test("plain IVF stores and counts only rows of the index dimension") {
    val p = tmp("ivf_dim")
    Ann.buildIvfIndex(rows(0 until 40), id, emb, p, nlist = 4)
    // a mixed increment: the right-dimension rows land, the short ones
    // (which NearestCentroid would still place in a cell, but no query
    // can ever score) are not stored and not counted as occupancy
    val short = (200 until 205).map(i => (i.toLong, vec(i).take(4))).toDF("vec_id", "embedding")
    Ann.addToIvfIndex(spark, p, rows(40 until 50).unionByName(short), id, emb)
    assert(Ann.indexIds(spark, p).as[Long].collect().toSet == (0L until 50L).toSet)
    assert(Ann.indexOccupancy(spark, p).occupancy == 50L)
    // an increment of ONLY wrong-dimension rows writes nothing and says why
    val e = intercept[IllegalArgumentException](Ann.addToIvfIndex(spark, p, short, id, emb))
    assert(e.getMessage.contains(s"index dim $dim"), e.getMessage)
    // on-the-fly knnIvf over the same mixed corpus agrees with the
    // persisted index: the same live-cell set, the same rows
    val mixed = rows(0 until 40).unionByName(short)
    val pm = tmp("ivf_dim_mixed")
    Ann.buildIvfIndex(mixed, id, emb, pm, nlist = 4)
    val qs = rows(0 until 8)
    def rowsOf(df: DataFrame) =
      df.select("q_id", "b_id", "rank", "sim").as[(Long, Long, Int, Double)].collect().toSet
    val persisted = Dedup.scoped(rowsOf(Ann.queryIvfIndex(spark, pm, qs, id, emb, k = 5, nprobe = 2)))
    val onTheFly = rowsOf(Ann.knnIvf(mixed, id, emb, qs, id, emb, k = 5, nlist = 4, nprobe = 2))
    assert(persisted == onTheFly)
  }
}
