package graft.apps

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sinks.Sinks

/** Drives DwsSkuOrderApp.run twice over a file source — the second run
  * resumes from the checkpoint and upserts on top of the first run's
  * table, proving the app is restartable end-to-end. */
class AppSpec extends SparkSpec {
  import spark.implicits._

  test("DwsSkuOrderApp: AvailableNow run, then resumed run upserts the same table") {
    val src = Files.createTempDirectory("appsrc").toString
    val dim = Files.createTempDirectory("appdim").toString + "/dim"
    val out = Files.createTempDirectory("appout").toString + "/dws"
    val ckpt = Files.createTempDirectory("appckpt").toString
    Seq((10L, "electronics"), (20L, "books")).toDF("sku", "category")
      .write.parquet(dim)

    val base = 1700000000L
    Files.writeString(Paths.get(s"$src/f1.json"),
      s"""{"order_detail_id": 1, "sku": 10, "amount": 5.0, "ts_sec": $base}
         |{"order_detail_id": 1, "sku": 10, "amount": 5.0, "ts_sec": $base}
         |{"order_detail_id": 2, "sku": 20, "amount": 9.0, "ts_sec": ${base + 30}}
         |{"order_detail_id": 9, "sku": 10, "amount": 1.0, "ts_sec": ${base + 2000}}""".stripMargin)
    DwsSkuOrderApp.run(spark, src, dim, out, ckpt)
    val afterFirst = Sinks.readKeyed(spark, out)
      .select("sku", "n_orders", "amount", "category")
      .as[(Long, Long, Double, String)].collect().toSet
    // window [base, base+600) closed by the base+2000 event: od 1 (dedup'd) + od 2
    assert(afterFirst == Set((10L, 1L, 5.0, "electronics"), (20L, 1L, 9.0, "books")))

    // new file arrives; a RESUMED run processes only it and upserts
    Files.writeString(Paths.get(s"$src/f2.json"),
      s"""{"order_detail_id": 11, "sku": 20, "amount": 2.0, "ts_sec": ${base + 4000}}""".stripMargin)
    DwsSkuOrderApp.run(spark, src, dim, out, ckpt)
    val afterSecond = Sinks.readKeyed(spark, out)
      .select("sku", "n_orders", "amount", "category")
      .as[(Long, Long, Double, String)].collect().toSet
    // the base+2000 window (od 9) closed once the base+4000 event advanced
    // the watermark; earlier rows are untouched (upsert, not overwrite)
    assert(afterSecond == afterFirst + ((10L, 1L, 1.0, "electronics")))
  }
}
