package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch workload: passes over a fixed query mix at sf0.1, each
  * query written to the noop sink exactly as `graft.Bench` does. The
  * seed permutes the query order of every pass; the window runs whole
  * passes (at least two) until `seconds` have elapsed. `work_s` sums each
  * query's median across the passes; `latency_*` are percentiles of every
  * query execution (a closed loop: each is due when the last finishes). */
object QueryMix {

  /** (query, the module that defines it). Every query module is present;
    * the similarity members carry the block stage, label propagation and
    * the PQ trainer, the core/CDC members the reference's own analytics. */
  val Mix: Seq[(String, String)] = Seq(
    "d3_minhash_neardup" -> "SimilarityQueries",
    "c1_clean_corpus" -> "TextQueries",
    "j6_dim_chain" -> "CoreQueries",
    "a24_session_paths" -> "CoreQueries",
    "s3_cdc_extract" -> "CdcQueries")

  val Modules: Seq[String] =
    Seq("CoreQueries", "CdcQueries", "TextQueries", "SimilarityQueries")

  def run(spark: SparkSession, trace: Trace, result: Result, sfDir: String,
          workDir: String, seed: Long, seconds: Double, sessionS: Double): Unit = {
    val t0 = System.nanoTime()
    def runOnce(q: String): Unit = {
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    // one untimed pass is the warm-up: it fills JIT, codegen and page
    // cache for exactly the tables the mix reads, as every later pass sees
    // them, and writes each output as parquet for the runner's check
    // (digests recorded from a DuckDB-oracle match)
    Mix.foreach { case (q, _) =>
      result.attempted += 1
      try SparkEntry.queries(q)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$workDir/out/$q")
      catch { case scala.util.control.NonFatal(e) => result.fail(s"$q: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    val warmS = (System.nanoTime() - t0) / 1e9
    result.metrics("setup_s") = (sessionS + (System.nanoTime() - t0) / 1e9, "s")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/oracle_sql.json"),
      Mix.map { case (q, _) => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}" }
        .mkString("{", ",", "}"))

    val samples = mutable.Map[String, List[Double]]().withDefaultValue(Nil)
    val rnd = new Random(seed)
    val start = System.nanoTime()
    var passes = 0
    while (passes < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      for ((q, module) <- rnd.shuffle(Mix)) {
        result.attempted += 1
        val q0 = System.nanoTime()
        try trace.inLayer(module)(trace.span(s"queries.$q.wall_s")(runOnce(q)))
        catch { case scala.util.control.NonFatal(e) =>
          result.fail(s"$q: ${e.getMessage}")
        }
        samples(q) = (System.nanoTime() - q0) / 1e9 :: samples(q)
      }
      passes += 1
    }
    // the suite's wall: each query's median over the passes, summed
    result.metrics("work_s") = (Mix.map { case (q, _) => Stats.median(samples(q)) }.sum, "s")
    val all = samples.values.flatten.toSeq.map(_ * 1000)
    result.metrics("latency_p50_ms") = (Stats.quantile(all, 0.5), "ms")
    result.metrics("latency_p90_ms") = (Stats.quantile(all, 0.9), "ms")
    result.notes("passes") = passes.toString

    if (trace.enabled) {
      trace.drain()
      result.layers("GraftSession.start_s") = (sessionS, "s")
      result.layers("tables.warm_s") = (warmS, "s")
      Mix.foreach { case (q, _) =>
        result.layers(s"queries.$q.wall_s") =
          (Stats.median(trace.spanSamples(s"queries.$q.wall_s")) / 1000, "s")
      }
      Modules.foreach { m =>
        val (jobs, tasks, cpuS, shuffle, spill, planMs) = trace.layerTotals(m)
        result.layers(s"$m.plan_ms") = (planMs / passes, "ms")
        result.layers(s"$m.jobs") = (jobs.toDouble / passes, "count")
        result.layers(s"$m.tasks") = (tasks.toDouble / passes, "count")
        result.layers(s"$m.executor_cpu_s") = (cpuS / passes, "s")
        result.layers(s"$m.shuffle_bytes") = (shuffle.toDouble / passes, "bytes")
        result.layers(s"$m.spill_bytes") = (spill.toDouble / passes, "bytes")
      }
    }
  }
}
