package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Sinks

/** Drives DimRouterApp across two resumed runs: config-driven routing,
  * column whitelisting, update-overwrites and delete-removals (the
  * reference DimApp's contract). */
class DimRouterSpec extends SparkSpec {
  import spark.implicits._

  private def env(table: String, op: String, ts: Long, kv: (String, String)*): String = {
    val data = kv.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
    s"""{"database": "gmall", "table": "$table", "type": "$op", "ts": $ts, "data": $data}"""
  }

  test("routes CDC envelopes into whitelisted, upserted dim tables; deletes remove keys") {
    val src = Files.createTempDirectory("dimsrc").toString
    val cfg = Files.createTempDirectory("dimcfg").toString + "/config"
    val out = Files.createTempDirectory("dimout").toString
    val ckpt = Files.createTempDirectory("dimckpt").toString

    Seq(("orders", "dim_orders", "status, amount"))
      .toDF("table", "sink_table", "columns").write.parquet(cfg)

    Files.writeString(Paths.get(s"$src/b1.json"),
      env("orders", "insert", 100, "id" -> "1", "status" -> "created",
        "amount" -> "10", "noise" -> "x") + "\n" +
        env("orders", "insert", 101, "id" -> "2", "status" -> "created",
          "amount" -> "20") + "\n" +
        env("users", "insert", 102, "id" -> "9", "name" -> "u") + "\n" + // no rule
        "corrupt line")
    DimRouterApp.run(spark, src, cfg, out, ckpt)

    val first = DimRouterApp.readDim(spark, s"$out/dim_orders")
      .select(col("id"), element_at(col("data"), "status").as("st"),
        element_at(col("data"), "noise").as("noise"))
      .as[(String, String, Option[String])].collect().toSet
    assert(first == Set(("1", "created", None), ("2", "created", None)))
    assert(!Files.exists(Paths.get(s"$out/dim_users"))) // unconfigured table dropped

    // second (resumed) run: update id 1, delete id 2
    Files.writeString(Paths.get(s"$src/b2.json"),
      env("orders", "update", 200, "id" -> "1", "status" -> "paid",
        "amount" -> "10") + "\n" +
        env("orders", "delete", 201, "id" -> "2", "status" -> "created",
          "amount" -> "20"))
    DimRouterApp.run(spark, src, cfg, out, ckpt)

    val second = DimRouterApp.readDim(spark, s"$out/dim_orders")
      .select(col("id"), element_at(col("data"), "status").as("st"))
      .as[(String, String)].collect().toSet
    assert(second == Set(("1", "paid"))) // id 2 deleted, id 1 updated
    // the delete survives as a tombstone so a late lower-ts event for id 2
    // cannot resurrect it
    val raw = Sinks.readKeyed(spark, s"$out/dim_orders")
      .select(col("id"), col("__tombstone")).as[(String, Boolean)].collect().toSet
    assert(raw.contains(("2", true)))
  }

  test("same-second insert+update in one batch: arrival order breaks the tie") {
    val src = Files.createTempDirectory("dimsrc2").toString
    val cfg = Files.createTempDirectory("dimcfg2").toString + "/config"
    val out = Files.createTempDirectory("dimout2").toString
    val ckpt = Files.createTempDirectory("dimckpt2").toString
    Seq(("orders", "dim_orders", "status"))
      .toDF("table", "sink_table", "columns").write.parquet(cfg)
    // identical ts — only the per-record sequence distinguishes them
    Files.writeString(Paths.get(s"$src/b1.json"),
      env("orders", "insert", 100, "id" -> "1", "status" -> "created") + "\n" +
        env("orders", "update", 100, "id" -> "1", "status" -> "paid"))
    DimRouterApp.run(spark, src, cfg, out, ckpt)
    val got = DimRouterApp.readDim(spark, s"$out/dim_orders")
      .select(element_at(col("data"), "status")).as[String].collect().toSeq
    assert(got == Seq("paid"))
  }

  test("dim tables commit through the snapshot manifest: planned readers stay pre-batch, a torn batch heals") {
    val out = Files.createTempDirectory("dimsnap").toString
    val table = s"$out/dim_orders"
    val config = Seq(("orders", "dim_orders", "status"))
      .toDF("table", "sink_table", "columns")
    val ids = 1 to 6
    def status(rows: DataFrame): Map[String, String] =
      rows.select(col("id"), element_at(col("data"), "status"))
        .as[(String, String)].collect().toMap
    DimRouterApp.routeBatch(
      ids.map(i => env("orders", "insert", 100, "id" -> s"$i",
        "status" -> "created")).toDF("value"), config, out, 0L)
    assert(Files.exists(Paths.get(s"$table/_snap")), "no snapshot manifest")
    val pre = ids.map(i => s"$i" -> "created").toMap
    val planned = DimRouterApp.readDim(spark, table)

    // batch 1 updates every id and deletes id 6; it crashes after the
    // first staged file moves in, then the replay heals and re-applies
    val batch1 = (ids.map(i => env("orders", "update", 200, "id" -> s"$i",
      "status" -> "paid")) :+ env("orders", "delete", 201, "id" -> "6"))
      .toDF("value")
    StagedCommit.crashAfterMoves = 1
    try intercept[IllegalStateException] {
      DimRouterApp.routeBatch(batch1, config, out, 1L)
    } finally StagedCommit.crashAfterMoves = Int.MaxValue
    assert(status(DimRouterApp.readDim(spark, table)) == pre,
      "a torn install must be invisible")
    DimRouterApp.routeBatch(batch1, config, out, 1L)

    assert(status(planned) == pre, "a reader planned pre-batch saw the batch")
    assert(status(DimRouterApp.readDim(spark, table)) ==
      (1 to 5).map(i => s"$i" -> "paid").toMap)
    val stored = Sinks.readKeyed(spark, table).select("id").as[String]
      .collect().toSeq
    assert(stored.sorted == ids.map(_.toString).sorted, "duplicate ids")
  }
}
