package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** What one run measured. `metrics` are the end-to-end figures (untraced
  * runs); `layers` the per-layer figures (traced runs); `notes` is free
  * JSON the runner copies into the trace file (validity counters, the
  * backlog trend, which checks failed). */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, String]() // name -> JSON value
  var attempted = 0L
  var failed = 0L
  var correct = true

  def fail(what: String): Unit = {
    failed += 1; correct = false
    notes("check_failures") =
      notes.get("check_failures").map(_.dropRight(1) + ",").getOrElse("[") +
        Json.str(what) + "]"
  }

  def toJson: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${obj(metrics)},"layers":${obj(layers)},""" +
      s""""notes":${notes.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Least-squares slope of ys over xs. */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double =
    if (xs.length < 2) 0.0
    else {
      val mx = xs.sum / xs.length; val my = ys.sum / ys.length
      val den = xs.map(x => (x - mx) * (x - mx)).sum
      if (den == 0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / den
    }
}

/** Entry point the runner launches:
  * `Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <resultFile>`.
  * The session is the program's own (`GraftSession.local`) on
  * `SPARK_GRAFT_CPUS` cores, which the runner pins. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, resultFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val t0 = System.nanoTime()
    val spark = GraftSession.local("perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = new Result
    val trace = new Trace(spark, traced)
    try {
      workload match {
        case "query_mix" =>
          QueryMix.run(spark, trace, result, dataDir, workDir, seed, seconds, sessionS)
        case "stream_chain" =>
          StreamChain.run(spark, trace, result, workDir, seed, seconds, sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally trace.close()
    result.layers("jvm.peak_rss_mb") = (peakRssMb(), "MB")
    spark.stop()
    if (traced && workload == "stream_chain") {
      // the single-threaded baseline: the same backlog drained on local[1]
      val one = GraftSession.local("perfbench-1core", cores = 1)
      val t1 = new Trace(one, false)
      try result.layers("scaling.drain_eps_1core") =
        (StreamChain.drainOnly(one, t1, s"$workDir/one-core", seed), "events/s")
      finally { t1.close(); one.stop() }
    }
    Files.writeString(Paths.get(resultFile), result.toJson)
  }

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
