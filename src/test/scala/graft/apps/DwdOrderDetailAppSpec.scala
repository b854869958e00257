package graft.apps

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.sinks.Sinks

/** End-to-end gate for the capstone DWD app: 4 JSON file streams →
  * chained join → keyed upsert, then a RESUMED run over a new file. */
class DwdOrderDetailAppSpec extends SparkSpec {
  import spark.implicits._

  test("DwdOrderDetailApp assembles, flushes left-join nulls, and resumes") {
    val dirs @ Seq(dDir, iDir, aDir, cDir) =
      Seq("ddir", "idir", "adir", "cdir").map(p =>
        Files.createTempDirectory(p).toString)
    val out = Files.createTempDirectory("dwdout").toString + "/table"
    val ckpt = Files.createTempDirectory("dwdckpt").toString
    val base = 1700000000L
    val far = base + 7200 // watermark flusher, past every join window

    // details: 1 (activity+coupon), 2 (activity only), 3 (neither),
    // 4 (no order info -> dropped); flusher order 999 matches nothing
    Files.writeString(Paths.get(s"$dDir/f1.json"),
      s"""{"order_detail_id": 1, "order_id": 10, "sku_id": 7, "amount": 5.0, "d_ts": $base}
         |{"order_detail_id": 2, "order_id": 10, "sku_id": 8, "amount": 6.0, "d_ts": ${base + 1}}
         |{"order_detail_id": 3, "order_id": 20, "sku_id": 9, "amount": 7.0, "d_ts": ${base + 2}}
         |{"order_detail_id": 4, "order_id": 99, "sku_id": 1, "amount": 8.0, "d_ts": ${base + 3}}
         |{"order_detail_id": 900, "order_id": 999, "sku_id": 0, "amount": 0.0, "d_ts": $far}""".stripMargin)
    Files.writeString(Paths.get(s"$iDir/f1.json"),
      s"""{"o_id": 10, "user_id": 70, "province_id": 1, "o_ts": $base}
         |{"o_id": 20, "user_id": 80, "province_id": 2, "o_ts": ${base + 2}}
         |{"o_id": 998, "user_id": 0, "province_id": 0, "o_ts": $far}""".stripMargin)
    Files.writeString(Paths.get(s"$aDir/f1.json"),
      s"""{"a_order_detail_id": 1, "activity_id": 100, "a_ts": ${base + 4}}
         |{"a_order_detail_id": 2, "activity_id": 101, "a_ts": ${base + 5}}
         |{"a_order_detail_id": 997, "activity_id": 0, "a_ts": $far}""".stripMargin)
    Files.writeString(Paths.get(s"$cDir/f1.json"),
      s"""{"c_order_detail_id": 1, "coupon_id": 200, "c_ts": ${base + 6}}
         |{"c_order_detail_id": 996, "coupon_id": 0, "c_ts": $far}""".stripMargin)

    DwdOrderDetailApp.run(spark, dDir, iDir, aDir, cDir, out, ckpt)
    def table(): Set[(Long, Long, Option[Long], Option[Long])] =
      Sinks.readKeyed(spark, out)
        .select("order_detail_id", "user_id", "activity_id", "coupon_id")
        .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
        .filter(_._1 < 900)
    assert(table() == Set(
      (1L, 70L, Some(100L), Some(200L)),
      (2L, 70L, Some(101L), None),
      (3L, 80L, None, None)))

    // new files arrive ABOVE the checkpointed watermark (earlier event
    // times would be late by run 1's watermark and dropped — correct
    // streaming semantics); the RESUMED run processes only them and
    // upserts into the same table
    Files.writeString(Paths.get(s"$dDir/f2.json"),
      s"""{"order_detail_id": 5, "order_id": 30, "sku_id": 2, "amount": 9.0, "d_ts": ${far + 50}}
         |{"order_detail_id": 901, "order_id": 999, "sku_id": 0, "amount": 0.0, "d_ts": ${far + 100}}""".stripMargin)
    Files.writeString(Paths.get(s"$iDir/f2.json"),
      s"""{"o_id": 30, "user_id": 90, "province_id": 3, "o_ts": ${far + 50}}
         |{"o_id": 995, "user_id": 0, "province_id": 0, "o_ts": ${far + 100}}""".stripMargin)
    Files.writeString(Paths.get(s"$aDir/f2.json"),
      s"""{"a_order_detail_id": 994, "activity_id": 0, "a_ts": ${far + 100}}""")
    Files.writeString(Paths.get(s"$cDir/f2.json"),
      s"""{"c_order_detail_id": 993, "coupon_id": 0, "c_ts": ${far + 100}}""")
    DwdOrderDetailApp.run(spark, dDir, iDir, aDir, cDir, out, ckpt)
    assert(table() == Set(
      (1L, 70L, Some(100L), Some(200L)),
      (2L, 70L, Some(101L), None),
      (3L, 80L, None, None),
      (5L, 90L, None, None)))
  }
}
