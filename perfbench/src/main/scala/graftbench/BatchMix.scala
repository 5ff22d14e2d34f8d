package graftbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.index.FileIndex

/** `batch_mix`: one client runs passes over a fixed list of query-pack
  * queries in the seed's order, then hashes the seed's file tree and groups
  * its duplicates. Each query's result is written as parquet, the output
  * `run.py` compares with the DuckDB oracle; the last pass's output is the
  * one checked. Set-up runs one query outside the list through the noop
  * sink, so the JVM's warm-up does not land on the first measured query.
  */
object BatchMix {
  import Main._

  val Warmup = "q01_pricing_summary"

  def pack(name: String): String = name.take(1) match {
    case "g" => "graph"
    case "q" => "relational"
    case "e" => "events"
    case "d" => "dedup"
    case "c" => "curation"
    case "t" => "text"
  }

  def run(spark: SparkSession, tr: Tracer, rec: Record, in: Map[String, Any], a: Args,
      work: String): Unit = {
    val dir = opt[String](in, "tables")
    val files = opt[String](in, "file_tree")
    val all = graft.SparkEntry.queries
    val order = opt[Seq[String]](in, "query_order").map(n => n -> all(n))

    // set-up: the JVM's first Spark work (class loading, JIT) is paid by a
    // query outside the measured list
    exec(all(Warmup)(spark, dir))
    spark.catalog.clearCache()
    // self-verifying oracles read the engine's own dump
    val sql = order.map { case (n, _) =>
      n -> graft.SparkEntry.oracleSql(n).replace("__GRAFT_OUT__", s"$work/out") }.toMap
    rec.check("oracle", "dir" -> s"$work/out", "queries" -> order.map(_._1), "sql" -> sql)

    loop(rec, a.seconds) { _ =>
      val t0 = now
      tr.span("unit") {
        order.foreach { case (name, fn) =>
          val q0 = now
          attempt(rec, name) {
            tr.span(s"queries.query/${pack(name)}/$name") {
              val df = tr.span("queries.plan")(fn(spark, dir))
              tr.span("queries.exec")(df.write.mode("overwrite").parquet(s"$work/out/$name"))
            }
            rec.ops += (now - q0) / 1e6
          }
          spark.catalog.clearCache()
        }
        val h0 = now
        attempt(rec, "file_index") {
          val idx = tr.span("index.hash")(FileIndex.indexWithHash(spark, files).localCheckpoint())
          val groups = tr.span("index.dupgroups")(FileIndex.duplicateGroups(idx).collect())
          rec.ops += (now - h0) / 1e6
          rec.check("dup_groups", "want" -> in("dup_groups"),
            "got" -> groups.map(r => r.getSeq[Row](r.fieldIndex("files")).map(_.getString(1)).toSeq).toSeq)
        }
      }
      secSince(t0)
    }
  }
}
