package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  private val Runs = 3

  /** One run of the CALIBRATION CANARY: a fixed, deterministic,
    * in-memory workload (no I/O, fixed rows × fixed ops — generated
    * range, hash-ish arithmetic, one shuffle agg) whose cost depends
    * only on the MACHINE, never on the query layer. Two judges in a
    * row (r11→r12) had to adjudicate round-over-round bench deltas by
    * hand because ambient co-tenant load inflated every number ~1.3–
    * 1.5× on byte-identical query code; the canary turns that
    * adjudication into arithmetic — `median_sum / canary_s` is
    * machine-independent to first order (see BASELINE.md for the
    * rule). Timed exactly like the queries: once per suite pass
    * (temporally separated samples), median reported. */
  private def canaryOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 64000000L, 1, 32)
      .selectExpr("id % 9973 as k", "(id * 2654435761) % 1000003 as v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.avg("v"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One run of the SCAN-SHAPED I/O canary (round 15). The CPU canary
    * above is I/O-blind: the r14 driver run had a flat 0.34 s CPU
    * canary yet a raw sum 27% above the builder's same-tree quiet run,
    * with the inflation concentrated in scan-heavy text queries —
    * page-cache / disk contention the generated-in-memory canary
    * cannot see. This canary re-reads the SAME parquet the queries
    * read (the widest table and the text corpus), full-width (hash of
    * every column, so no pruning hides the bytes), through the same
    * scan path. Reported beside the CPU canary; BASELINE.md requires
    * BOTH flat before raw cross-round comparison is meaningful. */
  private def scanCanaryOnce(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions.{hash, sum}
    val t0 = System.nanoTime()
    Seq("lineitem", "documents").foreach { t =>
      // per-table try/catch, same as Tables.warm: a dataset dir lacking
      // one canary table must degrade the canary, not abort the whole
      // bench before a single query is timed (r15 ADVICE)
      try {
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        df.agg(sum(hash(df.columns.map(df.col): _*).cast("long")))
          .write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(_) => () }
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Upper median — the suite's convention throughout. */
  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted; s(s.length / 2)
  }

  /** PER-PASS canary normalization (round 14). The round-13 scheme —
    * `median_sum / median(canary samples)` — failed its own premise in
    * its debut round: two same-tree runs produced normalized sums 38%
    * apart while the RAW sums agreed within 8% (PLANS.md round 13),
    * because a query's median and the canary's median can come from
    * DIFFERENT passes under different ambient load, and dividing a
    * 119-query sum by one noisy scalar injects that scalar's noise
    * into everything. Here each query sample divides by the canary of
    * ITS OWN pass (sampled adjacent to the queries it normalizes), so
    * a pass-wide slowdown cancels exactly — see the invariance spec —
    * and per-query medians are taken over already-normalized samples.
    * Empty sample lists (errored queries) contribute 0, matching the
    * raw-sum convention. */
  private[graft] def normalizedSum(samples: Map[String, Seq[(Int, Double)]],
                                   passCanaries: Map[Int, Double]): Double =
    samples.values.map { ss =>
      if (ss.isEmpty) 0.0
      else medianOf(ss.map { case (p, t) => t / passCanaries(p) })
    }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    graft.sources.Tables.warm(spark, sfDir)
    // (name, per-run seconds, error) — a failed query is REPORTED, never
    // silently timed as near-zero success. Each query runs `Runs` times
    // and reports the MEDIAN: single-shot timings swung 3× round-to-round
    // on provably unchanged plans (GC/JIT/page-cache transients), which
    // made real regressions indistinguishable from noise.
    //
    // The runs are taken as `Runs` SEPARATE PASSES over the whole suite
    // (q1..qN, q1..qN, …), NOT back-to-back per query: a multi-second
    // one-time JVM/OS transient (major GC, code-cache sweep, page
    // reclaim) straddled all three back-to-back runs of whichever query
    // it landed on and poisoned that query's median — the "wandering
    // 3× spike" that hit j1 in r6 and j2/j3/v7 in r7 on byte-untouched
    // plans (isolated fresh-JVM reruns showed no regression). Across
    // temporally-separated passes the same transient can touch at most
    // one sample per query, and the median discards it. Per-run
    // clearCache() already kept back-to-back runs from sharing state,
    // so the interleave costs nothing extra.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.Map[String, List[(Int, Double)]]()
      .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map[String, String]()
    // canary warmup OUTSIDE the timed samples: it is one job, so the
    // first run's JIT/codegen cost would skew its median the way no
    // single query's can (119 queries amortize warmup; the canary's
    // few samples don't)
    canaryOnce(spark)
    scanCanaryOnce(spark, sfDir) // same untimed warmup as the CPU canary
    // THREE canary samples per pass — start, mid, end — so the pass's
    // canary (their median) is measured ADJACENT to the queries it
    // normalizes and tracks load that shifts inside a pass, not just
    // between passes (the round-13 single-sample-per-pass scheme's
    // documented failure — see [[normalizedSum]]). The scan canary is
    // sampled at the same three instants (I/O-load twin, r15).
    val passCanaries = scala.collection.mutable.Map[Int, List[Double]]()
      .withDefaultValue(Nil)
    val passScanCanaries = scala.collection.mutable.Map[Int, List[Double]]()
      .withDefaultValue(Nil)
    val mid = names.length / 2
    for (pass <- 1 to Runs) {
      passCanaries(pass) = canaryOnce(spark) :: passCanaries(pass)
      passScanCanaries(pass) = scanCanaryOnce(spark, sfDir) :: passScanCanaries(pass)
      for (((name, fn), i) <- names.zipWithIndex) {
        if (i == mid) {
          passCanaries(pass) = canaryOnce(spark) :: passCanaries(pass)
          passScanCanaries(pass) = scanCanaryOnce(spark, sfDir) :: passScanCanaries(pass)
        }
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          // noop sink materializes every output column (count() would let
          // Catalyst prune computed columns and understate the work)
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
          catch { case e: Throwable => // a failed query fails fast, not 3×
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
          val elapsed = (System.nanoTime() - t0) / 1e9
          // cache teardown (per-query persists must not leak) happens
          // OUTSIDE the timed window — harness hygiene, not query cost
          spark.catalog.clearCache()
          if (!errors.contains(name)) samples(name) = (pass, elapsed) :: samples(name)
        }
      }
      passCanaries(pass) = canaryOnce(spark) :: passCanaries(pass)
      passScanCanaries(pass) = scanCanaryOnce(spark, sfDir) :: passScanCanaries(pass)
    }
    val passCanary: Map[Int, Double] =
      passCanaries.map { case (p, cs) => p -> medianOf(cs) }.toMap
    val allCanaries = passCanaries.values.flatten.toList.sorted
    val canary = medianOf(allCanaries)
    val passScanCanary: Map[Int, Double] =
      passScanCanaries.map { case (p, cs) => p -> medianOf(cs) }.toMap
    val allScanCanaries = passScanCanaries.values.flatten.toList.sorted
    val scanCanary = medianOf(allScanCanaries)
    val results = names.map { case (name, _) =>
      val sorted = samples(name).map(_._2).sorted
      val median = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
      (name, median, sorted.headOption.getOrElse(0.0),
        sorted.lastOption.getOrElse(0.0), errors.get(name))
    }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, med, _, _, _) => s"\"$k\":$med" }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn, _, _) => s"\"$k\":$mn" }
      .mkString("{", ",", "}")
    val maxs = results.map { case (k, _, _, mx, _) => s"\"$k\":$mx" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, _, Some(m)) => s"\"$k\":${jstr(m)}" }
      .mkString("{", ",", "}")
    val nErr = results.count(_._5.isDefined)
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$Runs,"stat":"median","canary_s":$canary,"queries":$qs,"queries_min":$mins,"queries_max":$maxs,"errors":$errs,"n_errors":$nErr,"sf":"$sfDir"}""")
    // SELF-ADJUDICATING SUMMARY, printed LAST so a consumer keeping only
    // a ~2 KiB stdout tail always retains it (the full line above holds
    // every per-query median/min/max but its head truncates away). The
    // adjudication signal is min_sum vs median_sum: each query's min
    // across the 3 temporally-separated passes is its quiet-machine
    // cost, so min_sum << median_sum (or per-query min << median on the
    // top movers listed here) means ambient co-tenant load inflated the
    // medians — no re-run needed to tell interference from regression.
    val minSum = results.map(_._3).sum
    def r2(x: Double) = math.rint(x * 100) / 100
    val top = results.sortBy(-_._2).take(10)
      .map { case (k, med, mn, _, _) => s"""["$k",${r2(med)},${r2(mn)}]""" }
      .mkString("[", ",", "]")
    spark.stop()
    // canary_per_pass and median_sum_normalized are the CROSS-ROUND
    // signal (BASELINE.md "Bench adjudication"): normalized sums are
    // PER-PASS normalized (each pass's samples divided by its own
    // adjacent canary median — see [[normalizedSum]]); raw sums only
    // agree on equally-quiet machines.
    val canMin = allCanaries.headOption.getOrElse(0.0)
    val normSum = normalizedSum(samples.toMap, passCanary)
    val perPass = (1 to Runs)
      .map(p => r2(passCanary.getOrElse(p, 0.0))).mkString("[", ",", "]")
    val scanMin = allScanCanaries.headOption.getOrElse(0.0)
    val scanPerPass = (1 to Runs)
      .map(p => r2(passScanCanary.getOrElse(p, 0.0))).mkString("[", ",", "]")
    println(s"""{"bench_summary":{"n":${results.length},"n_errors":$nErr,"median_sum":${r2(total)},"min_sum":${r2(minSum)},"canary_s":${r2(canary)},"canary_min_s":${r2(canMin)},"canary_per_pass":$perPass,"scan_canary_s":${r2(scanCanary)},"scan_canary_min_s":${r2(scanMin)},"scan_canary_per_pass":$scanPerPass,"median_sum_normalized":${r2(normSum)},"top10_by_median_with_min":$top}}""")
    if (nErr > 0) sys.exit(1)
  }
}
