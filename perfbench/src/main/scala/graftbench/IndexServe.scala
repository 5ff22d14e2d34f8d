package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Ann, Bm25, Dedup, Fusion}
import graft.serve.HttpApi

/** `index_serve`: one unit maintains a persisted IVF index and then serves
  * it. Lifecycle, one client: build → add the seed's batch → remove the
  * seed's id set → compact ([[Ann.compactIndex]], i.e. [[graft.etl.Compact]]).
  * Serving: [[HttpApi]] over that index and a lexical index built during
  * set-up; [[C1Requests]] GETs from 1 client, then [[C4Requests]] from 4
  * clients (4 = the server's handler pool), closed loop, taken in order from
  * the seed's mix of /search/{lexical,ann,hybrid,phrase}.
  *
  * Checks, outside the timed steps: the ids the index serves after add and
  * after remove; every response's status and answer against the direct
  * operator call for the same query (`run.py` also scores ANN answers
  * against exact cosine top-k).
  */
object IndexServe {
  import Main._

  val K = 10
  val C1Requests = 4
  val C4Requests = 12

  final case class Req(kind: String, q: String, vec: Array[Float])

  def run(spark: SparkSession, tr: Tracer, rec: Record, in: Map[String, Any], a: Args,
      work: String): Unit = {
    import spark.implicits._
    val dir = opt[String](in, "tables")
    val vid = col("vec_id"); val emb = col("embedding")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet").select(vid, emb)
    val addV = spark.read.parquet(s"$dir/add_vectors.parquet").select(vid, emb)
    val victims = opt[Seq[Number]](in, "remove_vec_ids").map(_.longValue).toDF("vec_id")
    val reqs = opt[Seq[Map[String, Any]]](in, "requests").map { m =>
      Req(opt[String](m, "kind"), opt[String](m, "q"),
        opt[Seq[Number]](m, "vec").map(_.floatValue).toArray)
    }.toIndexedSeq
    rec.sample("input_bytes",
      dirBytes(s"$dir/embeddings.parquet") + dirBytes(s"$dir/add_vectors.parquet"))

    val lexP = s"$work/lex"
    tr.span("operators.lex.build")(Bm25.buildLexIndex(
      spark.read.parquet(s"$dir/documents.parquet"), col("doc_id"), col("text"), lexP))

    // direct operator answer for a batch of (request index, request)
    def direct(annP: String, kind: String, rs: Seq[(Int, Req)]): DataFrame = {
      val q = rs.map { case (i, r) => (i.toLong, r.q, r.vec) }.toDF("q_id", "qtext", "qvec")
      kind match {
        case "lexical" => Bm25.queryLexIndex(spark, lexP, q, col("q_id"), col("qtext"), K)
        case "phrase" => Bm25.queryPhraseIndex(spark, lexP, q, col("q_id"), col("qtext"), K)
        case "ann" => Ann.queryIvfIndex(spark, annP, q, col("q_id"), col("qvec"), K)
        case "hybrid" => Fusion.hybridTopK(spark, lexP, annP, q, col("q_id"), col("qtext"),
          col("qvec"), K, kPerLeg = math.max(K * 2, 20))
      }
    }
    // warm-up: the lexical plans, which no lifecycle step runs
    val kinds = Seq("lexical", "ann", "hybrid", "phrase")
    val samples = kinds.map(k => reqs.indexWhere(_.kind == k)).map(i => i -> reqs(i))
    samples.filter(s => s._2.kind == "lexical" || s._2.kind == "phrase")
      .foreach { case (i, r) => Dedup.scoped(direct("", r.kind, Seq(i -> r)).collect()) }

    val client = HttpClient.newHttpClient()
    val cursor = new AtomicInteger(0)

    loop(rec, a.seconds) { cycle =>
      val annP = s"$work/c$cycle"
      var checkS = 0.0
      def untimed(body: => Unit): Unit = {
        val c0 = now
        try body finally checkS += secSince(c0)
      }
      def step(verb: String)(body: => Unit): Unit = attempt(rec, verb) {
        tr.span(s"operators.ivf.$verb")(body)
      }
      def served(state: String): Unit =
        untimed(rec.check("ids", "state" -> state, "got" -> ids(Ann.indexIds(spark, annP))))
      // the server reads the index only when a request arrives
      val api = new HttpApi(spark, () => graft.analyze.Findings.toDS(spark, Nil).toDF,
        lexIndexPath = Some(lexP), annIndexPath = Some(annP))
      val port = api.start(0)
      def get(r: Req): (Int, String) = {
        val v = s"vec=${r.vec.mkString(",")}"
        val q = s"q=${java.net.URLEncoder.encode(r.q, "UTF-8")}"
        val params = r.kind match {
          case "ann" => v
          case "hybrid" => s"$q&$v"
          case _ => q
        }
        val url = s"http://127.0.0.1:$port/search/${r.kind}?$params&k=$K"
        val resp = client.send(HttpRequest.newBuilder(URI.create(url)).GET.build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode, resp.body)
      }
      val answers = mutable.ArrayBuffer.empty[(Int, Int, String)] // (request, status, body)
      /** `clients` closed-loop clients sending `n` requests between them. */
      def phase(name: String, clients: Int, n: Int): Seq[(String, Double)] =
        tr.phase(s"serve.$name") {
          val end = cursor.get() + n
          val parents = tr.open
          val lat = java.util.Collections.synchronizedList(
            new java.util.ArrayList[(String, Double)]())
          val threads = (0 until clients).map { _ =>
            new Thread(() => {
              var i = cursor.getAndIncrement()
              while (i < end) {
                val r = reqs(i % reqs.size)
                val t0 = now
                val (status, body) = tr.request(i, parents) {
                  tr.span(s"serve.request/${r.kind}") {
                    try get(r) catch { case e: Exception => (-1, e.toString) }
                  }
                }
                lat.add((r.kind, (now - t0) / 1e6))
                answers.synchronized { answers += ((i % reqs.size, status, body)) }
                i = cursor.getAndIncrement()
              }
            })
          }
          threads.foreach(_.start()); threads.foreach(_.join())
          scala.jdk.CollectionConverters.ListHasAsScala(lat).asScala.toSeq
        }
      val t0 = now
      tr.span("unit") {
        step("build")(Ann.buildIvfIndex(embs, vid, emb, annP))
        step("add")(Ann.addToIvfIndex(spark, annP, addV, vid, emb))
        served("added")
        step("remove")(Ann.removeFromIvfIndex(spark, annP, victims, vid))
        served("removed")
        step("compact")(Ann.compactIndex(spark, annP))
        untimed(rec.sample("index_bytes", dirBytes(annP).toDouble))

        val c1 = phase("c1", 1, C1Requests)
        val p0 = now
        val c4 = phase("c4", 4, C4Requests)
        val c4s = secSince(p0)
        c1.foreach { case (_, ms) => rec.sample("c1_ms", ms) }
        c4.foreach { case (k, ms) => rec.sample(s"c4_ms.$k", ms); rec.ops += ms }
        rec.sample("c4_rps", c4.size / c4s)
      }
      val unitS = secSince(t0) - checkS
      // serve.http_ms (traced runs): one query through HTTP and through the verb
      if (tr.enabled) samples.foreach { case (i, r) =>
        val g0 = now
        get(r)
        val g = (now - g0) / 1e6
        val d0 = now
        val fam = Map("ann" -> "ivf", "hybrid" -> "hybrid").getOrElse(r.kind, "lex")
        tr.span(s"operators.$fam.query")(Dedup.scoped(direct(annP, r.kind, Seq(i -> r)).collect()))
        rec.sample("http_ms", g - (now - d0) / 1e6)
      }
      api.stop()
      untimed {
        rec.attempted += answers.size
        val served = answers.map(_._1).distinct.map(i => i -> reqs(i))
        val want = served.groupBy(_._2.kind).toSeq.flatMap { case (kind, rs) =>
          Dedup.scoped(jsonRows(direct(annP, kind, rs.toSeq)))
        }
        rec.check("serve", "want" -> want,
          "got" -> answers.map { case (i, s, b) => Map("req" -> i, "status" -> s, "body" -> b) })
        deleteTree(new java.io.File(annP))
      }
      unitS
    }
  }
}
