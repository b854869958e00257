package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.apps.{DimRouterApp, DwsSkuOrderApp, EventMartStream}
import graft.operators.WindowOps
import graft.queries.CoreQueries
import graft.sinks.Sinks
import graft.sources.Streams

/** The streaming workload: the reference's ODS→DIM and ODS→DWS pipelines
  * and the mart tier, fed by one [[Gen]], as three streaming queries in
  * one session:
  *
  *  - `dim`: CDC envelopes → `DimRouterApp.routeBatch` (3 config rules),
  *    raw-mode keyed upserts;
  *  - `dws`: order-detail JSON → `DwsSkuOrderApp.aggregate` (state-store
  *    dedup + 10-minute windows) → broadcast sku dim → `Sinks.upsertKeyed`
  *    (raw mode);
  *  - `marts`: events → `EventMartStream.processBatch` (snapshot-mode
  *    sinks through `Snapshots`).
  *
  * The benchmark supplies only the file source, the trigger and the
  * `foreachBatch` wrapper; the program's functions are called unchanged.
  *
  * Phases: a warm-up slice gives every query its first micro-batch
  * (set-up). [[Drains]] backlogs of [[Backlog]] × [[LargeN]] order details
  * (and their CDC) then land one after another, each as one file per
  * source, so each drain batch holds ≥ 20k DWS rows. A PACED phase
  * follows: [[SmallN]]-detail DWS slices at [[Rate]] slices/s for
  * `seconds`, while one thread reads the five mart views round-robin,
  * open-loop. Two flushers close the DWS windows, and the outputs are
  * checked against batch recomputation.
  *
  * Only the warm-up slice carries mart events and only the warm-up and
  * the drains carry CDC: a mart batch costs ~10 s on 4 cores whatever its
  * size (~40 s beside the chain) and a DIM batch ~5 s, so inside the
  * paced phase they would leave one batch each to measure. */
object StreamChain {
  val LargeN = 2500
  val Backlog = 8
  val Drains = 2
  val SmallN = 20
  val Rate = 20.0
  /** Larger than any paced batch can be, so only the trigger cadence
    * shapes batches; fixed so the drain's batch is the whole backlog. */
  val MaxFiles = 1000
  val ReadEveryMs = 1000L

  private val Chain = Seq("dim", "dws")
  private val Queries = Chain :+ "marts"
  /** source directory each query reads */
  private val QuerySource = Map("dim" -> "cdc", "dws" -> "dws", "marts" -> "events")
  private val Views: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dailyUv" -> EventMartStream.dailyUv, "ohlc" -> EventMartStream.ohlc,
    "transitions" -> EventMartStream.transitions,
    "sessionPaths" -> EventMartStream.sessionPaths,
    "decayScores" -> EventMartStream.decayScores)

  private val eventSchema = StructType(Seq(
    StructField("user_id", LongType), StructField("ts_sec", LongType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  /** The paths of one run. */
  private final class Dirs(work: String) {
    val src: Path = Paths.get(work, "src")
    val out = s"$work/out"
    val ckpt = s"$work/ckpt"
    val config = s"$work/config"
    val skuDim = s"$work/sku_dim"
    def dir(source: String): String = src.resolve(source).toString
    def create(): Unit = Gen.Sources.foreach(s => Files.createDirectories(src.resolve(s)))
  }

  /** Started queries, by name. */
  private final class Running(val queries: Map[String, StreamingQuery]) {
    def stopAll(): Unit = queries.values.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    def failure: Option[String] = queries.collectFirst {
      case (n, q) if q.exception.isDefined => s"$n: ${q.exception.get.getMessage}"
    }
  }

  // ---------------------------------------------------------- set-up

  private def writeTables(spark: SparkSession, d: Dirs): Unit = {
    import spark.implicits._
    Seq(("sku_info", "dim_sku_info"), ("user_info", "dim_user_info"),
      ("base_province", "dim_base_province"))
      .map { case (t, s) => (t, s, Gen.Columns(t).mkString(",")) }
      .toDF("table", "sink_table", "columns")
      .coalesce(1).write.mode("overwrite").parquet(d.config)
    spark.range(1, Gen.Skus + 1).select(col("id").as("sku"),
        concat(lit("sku-"), col("id")).as("sku_name"),
        (col("id") % 300).as("category3_id"), (col("id") % 40).as("tm_id"))
      .coalesce(1).write.mode("overwrite").parquet(d.skuDim)
  }

  private def parsedDws(lines: DataFrame): DataFrame =
    Streams.jsonLines(lines, DwsSkuOrderApp.inputSchema, "ts_sec", "2 seconds")

  private def events(lines: DataFrame): DataFrame =
    Streams.jsonLines(lines, eventSchema, "ts_sec", "2 seconds")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_id"), col("event_type"), col("value"))

  /** Start the named queries over `d`. The foreachBatch bodies are the
    * apps' own (as in their `run` methods), wrapped in the trace's spans
    * and the sink ledger. */
  private def start(spark: SparkSession, d: Dirs, names: Seq[String], trace: Trace,
                    sinks: SinkLedger): Running = {
    def read(n: String) =
      spark.readStream.option("maxFilesPerTrigger", MaxFiles.toLong).text(d.dir(QuerySource(n)))
    def q(name: String, df: DataFrame)(body: (DataFrame, Long) => Unit): StreamingQuery =
      df.writeStream.queryName(name).option("checkpointLocation", s"${d.ckpt}/$name")
        .foreachBatch { (b: DataFrame, id: Long) => body(b, id) }.start()
    new Running(names.map {
      case "dim" => "dim" -> q("dim", read("dim")) { (b, id) =>
        val config = b.sparkSession.read.parquet(d.config)
        sinks.around("raw", s"${d.out}/dim")(
          trace.span("DimRouterApp.routeBatch_ms")(
            DimRouterApp.routeBatch(b, config, s"${d.out}/dim", id)))
      }
      case "dws" => "dws" -> q("dws", DwsSkuOrderApp.aggregate(parsedDws(read("dws")))) { (b, id) =>
        val dim = b.sparkSession.read.parquet(d.skuDim)
        val enriched = b.join(broadcast(dim), Seq("sku"), "left")
        sinks.around("raw", s"${d.out}/dws")(
          trace.span("Sinks.upsertKeyed_ms.dws")(
            Sinks.upsertKeyed(b.sparkSession, enriched.withColumn("__b", lit(id)),
              keys = Seq("stt", "sku"), order = Seq("__b"), path = s"${d.out}/dws",
              dropCols = Seq("__b"))))
      }
      case "marts" => "marts" -> q("marts", events(read("marts"))) { (b, id) =>
        sinks.around("snapshot", s"${d.out}/marts")(
          trace.span("EventMartStream.processBatch_ms")(
            EventMartStream.processBatch(b, id, s"${d.out}/marts")))
      }
    }.toMap)
  }

  // ------------------------------------------------------ measurement

  /** Micro-batch → commit instant (epoch ms): the commit-log file's
    * modification time. */
  private def commitTimes(ckpt: String): Map[Long, Long] =
    Option(new java.io.File(ckpt, "commits").listFiles()).toSeq.flatten
      .flatMap(f => f.getName.toLongOption.map(_ -> f.lastModified())).toMap

  /** Slice number → the micro-batch that read its file. The file source
    * logs each file under its own offset (which skips no-data batches);
    * the offset log names the source offset each micro-batch ended at. */
  private def sliceBatches(ckpt: String): Map[Int, Long] = {
    def lines(dir: String) =
      Option(new java.io.File(ckpt, dir).listFiles()).toSeq.flatten
        .filter(f => f.isFile && !f.getName.startsWith("."))
        .map(f => f -> (try Files.readAllLines(f.toPath).asScala.toSeq catch { case NonFatal(_) => Nil }))
    val filePat = "\"path\":\"[^\"]*/s(\\d+)\\.json\".*\"batchId\":(\\d+)".r
    val offsetPat = "\\{\"logOffset\":(\\d+)\\}".r
    val sliceOffset = lines("sources/0").flatMap(_._2).flatMap(l =>
      filePat.findFirstMatchIn(l).map(m => m.group(1).toInt -> m.group(2).toLong)).toMap
    val batchEnd = lines("offsets").flatMap { case (f, ls) =>
      f.getName.toLongOption.zip(ls.lastOption.flatMap(offsetPat.findFirstMatchIn)
        .map(_.group(1).toLong))
    }.sortBy(_._1)
    sliceOffset.flatMap { case (k, off) => batchEnd.find(_._2 >= off).map(k -> _._1) }
  }

  /** Block until every named query has COMMITTED the batches holding its
    * files of `slices` (a committed batch is in the commit log). */
  private def awaitSlices(d: Dirs, run: Running, want: Map[String, Seq[Slice]]): Unit = {
    val deadline = System.nanoTime() + 150_000_000_000L
    def done(q: String) = {
      val ck = s"${d.ckpt}/$q"
      val committed = commitTimes(ck)
      val sb = sliceBatches(ck)
      want(q).filter(_.lines.contains(QuerySource(q)))
        .forall(s => sb.get(s.k).exists(committed.contains))
    }
    var pending = want.keySet
    while (pending.nonEmpty) {
      run.failure.foreach(f => throw new IllegalStateException(f))
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out waiting for ${pending.mkString(", ")}")
      pending = pending.filterNot(done)
      if (pending.nonEmpty) Thread.sleep(25)
    }
  }

  /** Per query: each batch's progress report, and slice → commit instant
    * of the micro-batch that read it. */
  private final class Timeline(trace: Trace, d: Dirs, names: Seq[String]) {
    val slices: Map[String, Map[Int, Long]] =
      names.map(n => n -> sliceBatches(s"${d.ckpt}/$n")).toMap
    val commits: Map[String, Map[Int, Long]] = names.map { n =>
      val at = commitTimes(s"${d.ckpt}/$n")
      n -> slices(n).flatMap { case (k, b) => at.get(b).map(k -> _) }
    }.toMap
    // data batches' progress (Spark throttles no-data batches' reports)
    val progress: Map[String, Seq[StreamingQueryProgress]] = names.map { n =>
      val last = slices(n).values.maxOption.getOrElse(-1L)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (trace.progressOf(n).map(_.batchId).maxOption.getOrElse(-1L) < last &&
        System.nanoTime() < deadline) Thread.sleep(20)
      n -> trace.progressOf(n)
    }.toMap
    /** Input rows of each batch of `n`, counted from the files it read. */
    def rowsPerBatch(n: String, all: Map[Int, Slice]): Map[Long, Long] =
      slices(n).toSeq.flatMap { case (k, b) => all.get(k).map(s => b -> s.rows(QuerySource(n))) }
        .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).sum }
  }

  // ------------------------------------------------------------- run

  def run(spark: SparkSession, trace: Trace, result: Result, workDir: String,
          seed: Long, seconds: Double, sessionS: Double): Unit = {
    val d = new Dirs(workDir)
    d.create()
    val gen = new Gen(seed)
    val sinks = new SinkLedger(trace.enabled)
    val t0 = System.nanoTime()
    writeTables(spark, d)
    val tablesS = (System.nanoTime() - t0) / 1e9
    // every input exists before anything is timed; the writer only renames
    val warm = gen.slice(0, SmallN, events = true)
    // DRAINS backlogs, drained one after another; work_s is their median
    val backlogs = (0 until Drains).map(i =>
      Slice.concat((1 to Backlog).map(j => gen.slice(i * Backlog + j, LargeN))))
    val firstPaced = Drains * Backlog + 1
    val nPaced = math.round(seconds * Rate).toInt
    val paced = (0 until nPaced).map(i => gen.slice(firstPaced + i, SmallN, cdc = false))
    val lastK = paced.last.k
    // two flushers past every open window: the second one's batch runs on
    // the watermark the first set, so every window before it is emitted
    val flushSec = Gen.eventSec(lastK) + 700
    val flush = Seq(gen.flusher(lastK + 1, flushSec), gen.flusher(lastK + 2, flushSec + 1))
    val all = (warm +: backlogs) ++ paced
    def through(slices: Seq[Slice], names: Seq[String] = Queries) =
      names.map(_ -> slices).toMap

    warm.write(d.src)
    val tq = System.nanoTime()
    val run = start(spark, d, Queries, trace, sinks)
    try {
      awaitSlices(d, run, through(Seq(warm)))
      val firstBatchS = (System.nanoTime() - tq) / 1e9
      result.metrics("setup_s") = (sessionS + (System.nanoTime() - t0) / 1e9, "s")

      // ---- drains: each backlog lands at once (one file per source)
      val drainStarts = backlogs.map { b =>
        val t = System.currentTimeMillis()
        b.write(d.src)
        awaitSlices(d, run, through(Seq(b), Chain))
        t
      }

      // ---- paced: the open-loop writer, and the mart reader
      val pacedStart = System.currentTimeMillis() + 200
      val due = paced.indices.map(i => pacedStart + (i * 1000 / Rate).toLong)
      val pacedEnd = pacedStart + (seconds * 1000).toLong
      val late = new ConcurrentLinkedQueue[Double]()
      val writer = new Thread(() => paced.zip(due).foreach { case (s, t) =>
        val wait = t - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        s.write(d.src)
        late.add((System.currentTimeMillis() - t).toDouble)
      }, "perfbench-gen")
      val reads = new ConcurrentLinkedQueue[(String, Double, Double)]() // view, due-to-done, busy
      val readFailures = new ConcurrentLinkedQueue[String]()
      val reader = new Thread(() => {
        var i = 0
        var next = pacedStart
        while (next < pacedEnd) {
          val wait = next - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val (view, f) = Views(i % Views.length)
          val r0 = System.nanoTime()
          try {
            f(spark, s"${d.out}/marts").collect()
            reads.add((view, (System.currentTimeMillis() - next).toDouble, (System.nanoTime() - r0) / 1e6))
          } catch { case NonFatal(e) => readFailures.add(s"$view: ${e.getMessage}") }
          i += 1; next += ReadEveryMs
        }
      }, "perfbench-reader")
      writer.setDaemon(true); reader.setDaemon(true)
      writer.start(); reader.start()
      writer.join(); reader.join()

      // ---- catch up, then flush the DWS windows
      awaitSlices(d, run, through(all, Chain))
      flush.foreach { f =>
        f.write(d.src)
        awaitSlices(d, run, Map("dws" -> Seq(f)))
      }
      run.stopAll()
      run.failure.foreach(f => result.fail(f))

      val tl = new Timeline(trace, d, Queries)
      // drain: from the backlog's landing to its last commit in the chain
      val drainS = Stats.median(backlogs.zip(drainStarts).map { case (b, t) =>
        (Chain.map(n => tl.commits(n)(b.k)).max - t) / 1000.0 })
      val backlogEvents = Chain.map(n => backlogs.head.rows(QuerySource(n))).sum.toDouble
      result.metrics("work_s") = (drainS, "s")

      // ---- freshness: due instant → commit of the batch that read the slice
      val freshDws = paced.zip(due).flatMap { case (s, t) =>
        tl.commits("dws").get(s.k).map(c => (c - t).toDouble) }
      if (freshDws.length != paced.length)
        result.fail(s"only ${freshDws.length}/${paced.length} paced slices traced to a commit")
      result.metrics("latency_p50_ms") = (Stats.quantile(freshDws, 0.5), "ms")
      result.metrics("latency_p90_ms") = (Stats.quantile(freshDws, 0.9), "ms")

      // the paced phase's backlog on a 100 ms grid: slices due but not yet
      // committed; its least-squares slope is the trend
      val doneAt = paced.zip(due).map { case (s, t) =>
        (t, tl.commits("dws").getOrElse(s.k, Long.MaxValue)) }
      val grid = (pacedStart to pacedEnd by 100L).map { t =>
        doneAt.count { case (dt, c) => dt <= t && c > t }.toDouble }
      val slope = Stats.slope(grid.indices.map(_ / 10.0), grid)
      // a batch's fixed cost queues what arrives while it runs, so at a
      // sustainable rate the backlog stays under one longest batch's worth
      // of arrivals; past that it is growing
      val longestBatchS = tl.progress("dws")
        .filter(p => Instant.parse(p.timestamp).toEpochMilli >= pacedStart)
        .map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong).maxOption.getOrElse(0L) / 1000.0
      val lateMax = late.asScala.maxOption.getOrElse(0.0)
      result.notes("gen_late_ms_max") = Json.num(lateMax)
      result.notes("backlog_slope_slices_per_s") = Json.num(slope)
      result.notes("backlog_max_slices") = Json.num(grid.max)
      result.notes("backlog_end_slices") = Json.num(grid.last)
      result.notes("over_rate") = (grid.last > Rate * longestBatchS).toString
      result.notes("drain_eps") = Json.num(backlogEvents / drainS)
      result.notes("paced_slices") = paced.length.toString

      result.attempted += Queries.map(n => tl.progress(n).size).sum + reads.size + readFailures.size
      readFailures.asScala.foreach(result.fail)

      // ---- correctness, outside every timed window
      check(spark, d, result, closedBySec = flushSec - 2)

      if (trace.enabled) {
        trace.drain()
        val bySlice = (all ++ flush).map(s => s.k -> s).toMap
        result.layers("GraftSession.start_s") = (sessionS, "s")
        result.layers("tables.warm_s") = (tablesS, "s")
        result.layers("streaming.first_batch_s") = (firstBatchS, "s")
        result.layers("streaming.drain_eps") = (backlogEvents / drainS, "events/s")
        Queries.foreach { n =>
          val rows = tl.rowsPerBatch(n, bySlice)
          // data batches after the warm-up one; the marts have only that one
          val ps = tl.progress(n).filter(p => rows.getOrElse(p.batchId, 0L) > 0 &&
            (p.batchId > 0 || n == "marts"))
          def med(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
          def dur(p: StreamingQueryProgress, k: String) = p.durationMs.getOrDefault(k, 0L).toDouble
          result.layers(s"streaming.$n.batch_ms") = (med(dur(_, "triggerExecution")), "ms")
          result.layers(s"streaming.$n.plan_ms") = (med(dur(_, "queryPlanning")), "ms")
          result.layers(s"streaming.$n.source_ms") = (med(p => dur(p, "getBatch") + dur(p, "latestOffset")), "ms")
          result.layers(s"streaming.$n.add_batch_ms") = (med(dur(_, "addBatch")), "ms")
          result.layers(s"streaming.$n.log_commit_ms") = (med(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms")
          result.layers(s"streaming.$n.input_rows") = (med(p => rows(p.batchId).toDouble), "rows")
        }
        val every = tl.progress("dws")
        def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
        result.layers("streaming.dws.state_rows") =
          (every.map(p => ops(p).map(_.numRowsTotal).sum.toDouble).max, "rows")
        result.layers("streaming.dws.state_mem_bytes") =
          (every.map(p => ops(p).map(_.memoryUsedBytes).sum.toDouble).max, "bytes")
        result.layers("streaming.dws.state_commit_ms") =
          (Stats.median(every.filter(_.batchId > 0).map(p => ops(p).map(_.commitTimeMs).sum.toDouble)), "ms")
        result.layers("streaming.dws.watermark_drops") =
          (every.map(p => ops(p).map(_.numRowsDroppedByWatermark).sum).sum.toDouble, "rows")
        Seq("DimRouterApp.routeBatch_ms", "Sinks.upsertKeyed_ms.dws",
          "EventMartStream.processBatch_ms").foreach { s =>
          result.layers(s) = (Stats.median(trace.spanSamples(s)), "ms")
        }
        Views.foreach { case (v, _) =>
          result.layers(s"EventMartStream.${v}_ms") =
            (Stats.median(reads.asScala.toSeq.collect { case (`v`, _, busy) => busy }), "ms")
        }
        val readLat = reads.asScala.toSeq.map(_._2)
        result.layers("marts.read_p50_ms") = (Stats.quantile(readLat, 0.5), "ms")
        result.layers("marts.read_p90_ms") = (Stats.quantile(readLat, 0.9), "ms")
        def bytesOf(srcs: Seq[String]) =
          (all ++ flush).map(s => srcs.map(x => s.lines.getOrElse(x, "").length.toLong).sum).sum
        val inputBytes = Map("raw" -> bytesOf(Chain.map(QuerySource)),
          "snapshot" -> bytesOf(Seq(QuerySource("marts"))))
        Seq("raw", "snapshot").foreach { m =>
          val (batchesM, files, commitsM, bytes) = sinks.totals(m)
          val nb = math.max(1L, batchesM).toDouble
          result.layers(s"sinks.$m.files_written_per_batch") = (files / nb, "count")
          result.layers(s"sinks.$m.commits_per_batch") = (commitsM / nb, "count")
          result.layers(s"sinks.$m.bytes_per_input_byte") = (bytes.toDouble / inputBytes(m), "ratio")
        }
        result.layers("gen.late_ms_max") = (lateMax, "ms")
        result.layers("gen.backlog_max_slices") = (grid.max, "slices")
        result.layers("gen.backlog_slope") = (slope, "slices/s")
      }
    } finally run.stopAll()
  }

  /** The single-threaded baseline: the chain alone drains the same
    * backlog (after its warm-up slice) in a fresh `local[1]` session. */
  def drainOnly(spark: SparkSession, trace: Trace, workDir: String, seed: Long): Double = {
    val d = new Dirs(workDir)
    d.create()
    val gen = new Gen(seed)
    writeTables(spark, d)
    val warm = gen.slice(0, SmallN)
    val backlog = Slice.concat((1 to Backlog).map(k => gen.slice(k, LargeN)))
    warm.write(d.src)
    val run = start(spark, d, Chain, trace, new SinkLedger(false))
    try {
      awaitSlices(d, run, Chain.map(_ -> Seq(warm)).toMap)
      val t0 = System.currentTimeMillis()
      backlog.write(d.src)
      awaitSlices(d, run, Chain.map(_ -> Seq(backlog)).toMap)
      Chain.map(n => backlog.rows(QuerySource(n))).sum / ((System.currentTimeMillis() - t0) / 1000.0)
    } finally run.stopAll()
  }

  // ------------------------------------------------------------ check

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted

  /** Compare as sorted row strings (outputs are small); report a sample. */
  private def same(result: Result, what: String, got: DataFrame, want: DataFrame): Unit = {
    result.attempted += 1
    val g = rowsOf(got.select(want.columns.toSeq.map(col): _*))
    val w = rowsOf(want)
    if (g != w) {
      val (gs, ws) = (g.toSet, w.toSet)
      result.fail(s"$what: ${(gs -- ws).size} unexpected rows, ${(ws -- gs).size} missing rows, " +
        s"e.g. missing ${(ws -- gs).take(3).mkString("; ")} unexpected ${(gs -- ws).take(3).mkString("; ")}")
    }
  }

  /** Stream outputs vs batch recomputation over every generated row (read
    * back from the source files in batch mode). DWS is compared over the
    * windows the final watermark (`closedBySec`) has closed. */
  private def check(spark: SparkSession, d: Dirs, result: Result, closedBySec: Long): Unit = {
    def batchRead(n: String) = spark.read.text(d.dir(QuerySource(n)))
    try {
      // DWS: aggregate()'s batch twin (its dedup operator runs only on
      // streams; the generator's duplicates are exact copies, so
      // dropDuplicates is the same dedup) + the same enrichment
      val dws = WindowOps.withWindowMeta(parsedDws(batchRead("dws"))
          .dropDuplicates("order_detail_id")
          .groupBy(window(col("rt"), "10 minutes"), col("sku"))
          .agg(count(lit(1)).as("n_orders"), sum(col("amount")).as("amount"))
          .filter(col("window.end") <= timestamp_seconds(lit(closedBySec))))
        .filter(col("sku") >= 0)
        .join(broadcast(spark.read.parquet(d.skuDim)), Seq("sku"), "left")
      same(result, "dws", Sinks.readKeyed(spark, s"${d.out}/dws"), dws)
      // DIM: keep-last of the generated CDC per (table, id), live rows only
      val cdc = batchRead("dim").select(from_json(col("value"), DimRouterApp.envelopeSchema).as("j"))
        .select(col("j.table").as("table"), col("j.type").as("op"), col("j.ts").as("ts"),
          col("j.data").as("data"), element_at(col("j.data"), "id").as("id"))
      val last = cdc.withColumn("__r", row_number().over(
          Window.partitionBy("table", "id").orderBy(col("ts").desc)))
        .filter(col("__r") === 1 && col("op") =!= "delete")
      Gen.Columns.foreach { case (table, cols) =>
        val allowed = array(cols.map(lit): _*)
        same(result, s"dim_$table", DimRouterApp.readDim(spark, s"${d.out}/dim/dim_$table"),
          last.filter(col("table") === table).select(col("id"), col("ts"),
            map_filter(col("data"), (k, _) => array_contains(allowed, k)).as("data")))
      }
      // marts: each view equals its batch query over every event (the
      // EventMartStreamSpec identity)
      val ev = events(batchRead("marts"))
      val marts = s"${d.out}/marts"
      Seq(
        ("dailyUv", EventMartStream.dailyUv(spark, marts), CoreQueries.dailyUvFrom(ev)),
        ("transitions", EventMartStream.transitions(spark, marts), CoreQueries.transitionsFrom(ev)),
        ("ohlc", EventMartStream.ohlc(spark, marts), CoreQueries.ohlcFrom(ev)),
        ("sessionPaths", EventMartStream.sessionPaths(spark, marts), CoreQueries.sessionPathsFrom(ev)),
        ("decayScores", EventMartStream.decayScores(spark, marts), CoreQueries.decayScoresFrom(ev)))
        .foreach { case (name, got, want) => same(result, name, got, want) }
    } catch { case NonFatal(e) => result.fail(s"check: ${e.getMessage}") }
  }
}

/** Sink accounting for the traced run: lists a table tree before and
  * after each foreachBatch body, booking new data files, their bytes and
  * commits (new `_snap/v*` manifests in snapshot mode, touched bucket
  * directories in raw mode) to the sink mode. */
final class SinkLedger(enabled: Boolean) {
  private val totals = mutable.Map[String, Array[Long]]() // batches, files, commits, bytes

  private def listing(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      catch { case NonFatal(_) => Map.empty } // a swap raced the listing
      finally walk.close()
    }
  }

  def around[T](mode: String, root: String)(body: => T): T =
    if (!enabled) body
    else {
      val before = listing(root)
      val out = body
      val fresh = listing(root).filter { case (f, _) => !before.contains(f) }
      val data = fresh.filter { case (f, _) => f.endsWith(".parquet") }
      val commits =
        if (mode == "snapshot")
          fresh.keys.count(f => f.contains("/_snap/v") && !f.split('/').last.startsWith("."))
        else data.keys.map(f => f.substring(0, f.lastIndexOf('/'))).toSet.size
      totals.synchronized {
        val t = totals.getOrElseUpdate(mode, Array(0L, 0L, 0L, 0L))
        t(0) += 1; t(1) += data.size; t(2) += commits; t(3) += data.values.sum
      }
      out
    }

  def totals(mode: String): (Long, Long, Long, Long) = totals.synchronized {
    totals.get(mode).map(t => (t(0), t(1), t(2), t(3))).getOrElse((0L, 0L, 0L, 0L))
  }
}
