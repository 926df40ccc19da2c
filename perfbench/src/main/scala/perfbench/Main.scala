package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run: `perfbench.Main key=value ...`.
  *
  * Keys: workload, data (input tables), run (private scratch directory),
  * seconds, trace (0|1), seed, and the workload's own settings. Writes
  * `<run>/result.json` (raw timings, counts and check outcomes) and, when
  * traced, `<run>/spans.jsonl`. `run.py` turns those into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val runDir = a("run")
    val res = mutable.LinkedHashMap[String, Any]()
    val sessionStart = System.currentTimeMillis()
    val spark = graft.GraftSession.getOrCreate(Some("local[4]"), Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    res("session_ready_ms") = System.currentTimeMillis()
    res("session_s") = (System.currentTimeMillis() - sessionStart) / 1e3
    val tracer = new Tracer(spark, a("trace") == "1")
    val w = new Workloads(spark, tracer, a, res)
    try a("workload") match {
      case "pipeline" => w.pipeline()
      case "stream_score" => w.streamScore()
      case "operator_mix" => w.operatorMix()
      case "prime" => w.prime()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      res("peak_rss_kb") = peakRssKb()
      tracer.writeJsonl(s"$runDir/spans.jsonl", a.getOrElse("seed", "0"))
      Files.writeString(Paths.get(s"$runDir/result.json"), Json.value(res.toMap))
      spark.stop()
    }
  }

  /** VmHWM of this JVM: the peak resident set, in kB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Drop every cached frame and persisted RDD with plain Spark calls, so
    * no timed operation reads blocks an earlier one left behind. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
