package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run measured. Timings are seconds or milliseconds as named;
  * `checks` holds the raw material `run.py` compares (answers and their
  * references), so every correctness rule lives in one place, the
  * Python harness.
  */
final class Record {
  val units = mutable.ArrayBuffer.empty[Double] // seconds per workload unit
  val ops = mutable.ArrayBuffer.empty[Double] // milliseconds per operation
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var firstOpMs = 0.0
  var attempted = 0L
  var failed = 0L

  def check(kind: String, fields: (String, Any)*): Unit =
    checks += (Map("kind" -> kind) ++ fields)

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Double]) += v
}

final case class Args(workload: String, inputs: String, out: String, seconds: Double,
    trace: Boolean, cores: Int)

/** Benchmark entry point: runs one workload against inputs made by `gen.py`
  * and writes `result.json` for `run.py`. Usage:
  * `Main <workload> <inputs.json> <outDir> <seconds> <trace 0|1> <cores>`.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def now: Long = System.nanoTime()
  def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Execute a frame's full plan through the noop sink, as `graft.Bench`. */
  def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1", argv(5).toInt)
    val inputs = mapper.readValue(new File(a.inputs), classOf[Map[String, Any]])
    val t0 = now
    val spark = graft.GraftSession.builder(a.cores.toString)
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.out, "spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secSince(t0)
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val rec = new Record
    val workDir = new File(a.out, "work").getAbsolutePath
    a.workload match {
      case "batch_mix" => BatchMix.run(spark, tracer, rec, inputs, a, workDir)
      case "index_serve" => IndexServe.run(spark, tracer, rec, inputs, a, workDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.finish()
    val rt = Runtime.getRuntime
    val env = Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> rt.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "available_processors" -> rt.availableProcessors)
    val result = Map(
      "env" -> env, "session_s" -> sessionS,
      "first_op_ms" -> rec.firstOpMs,
      "units" -> rec.units, "ops" -> rec.ops, "samples" -> rec.samples, "checks" -> rec.checks,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "spans" -> tracer.spanRecords, "jobs" -> tracer.jobRecords)
    spark.stop()
    Files.write(Paths.get(a.out, "result.json"), mapper.writeValueAsBytes(result))
  }

  /** Closed-loop unit scheduler shared by the workloads: ends set-up, then
    * runs `unit(i)` until `seconds` have passed, at least once.
    */
  def loop(rec: Record, seconds: Double)(unit: Int => Double): Unit = {
    rec.firstOpMs = System.currentTimeMillis().toDouble
    val deadline = now + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || now < deadline) {
      rec.units += unit(i)
      i += 1
    }
  }

  /** Counts one attempted operation; an exception counts it as failed. */
  def attempt(rec: Record, what: String)(body: => Unit): Unit = {
    rec.attempted += 1
    try body
    catch { case e: Exception =>
      rec.failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
    }
  }

  def jsonRows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq

  def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(x => dirBytes(x.getPath)).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def opt[A](m: Map[String, Any], k: String): A = m(k).asInstanceOf[A]
}
