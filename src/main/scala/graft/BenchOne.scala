package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev utility: time one or more registered queries N times (default 3) —
  * `runMain graft.BenchOne <name>[,<name>...] [sfDir] [n]`. First run
  * includes scan warm-up; later runs isolate compute. Passes interleave
  * (q1..qk, q1..qk, …) like graft.Bench so a one-time transient cannot
  * poison one query's median. Each run line also counts the Spark jobs
  * and stages the query issued (many actions, or one scan-bound job?). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val qnames = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("graft-bench-one")
    graft.sources.Tables.warm(spark, dir)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
      }
    })
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    for (i <- 1 to n; name <- qnames) {
      jobs.set(0); stages.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      samples(name) = el :: samples(name)
      Thread.sleep(200) // let listener events drain before reading
      println(f"[bench1] $name run$i $el%.2f s jobs=${jobs.get} stages=${stages.get}")
    }
    for (name <- qnames) {
      val s = samples(name).sorted
      println(f"[bench1] $name median ${s(s.length / 2)}%.2f min ${s.head}%.2f")
    }
    spark.stop()
  }
}
