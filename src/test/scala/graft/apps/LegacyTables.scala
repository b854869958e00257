package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.Sinks

/** Fixtures for keyed tables as older versions left them on disk: the
  * raw bucket layout, with no snapshot manifest. No writer produces
  * one any more, and every keyed call refuses one, so the specs build
  * it directly to feed [[Sinks.upgrade]], the one step that adopts it,
  * and to pin the refusals. */
object LegacyTables {

  /** Write `df` (keyed by `k`) as an [[Sinks.upsertCombine]] table of an
    * older version: `__bucket=` partition dirs, the `__mart_batch`
    * stamp, the `.nbuckets` sidecar beside the table, and the empty
    * `.old` dir its bucket swaps left behind. */
  def writeRawCombined(df: DataFrame, path: String, nBuckets: Int,
                       batch: Long = 0L): Unit = {
    df.withColumn("__bucket", Sinks.bucketOf(Seq("k"), nBuckets))
      .withColumn("__mart_batch", lit(batch))
      .write.partitionBy("__bucket").parquet(path)
    Files.writeString(Paths.get(path + ".nbuckets"), nBuckets.toString)
    Files.createDirectories(Paths.get(path + ".old"))
  }
}
