package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-wins keyed upsert into a parquet directory — the batch twin of the
  * reference's Lambda→DynamoDB put_item leg (README.md:2): new readings for
  * a (device, timestamp) key replace old ones, unseen keys insert.
  *
  * Implementation is read-union-dedupe-rewrite: one shuffle by key over
  * existing ∪ updates, keep the max-version row per key. At 100 TB you'd
  * bound the rewrite with partition overwrite (partitionBy a date/bucket
  * column + spark.sql.sources.partitionOverwriteMode=dynamic) or a table
  * format with merge-on-read; the dedupe shape — window by key, latest
  * version wins — is identical.
  */
object KeyedUpsert {
  def apply(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], versionCol: String): Unit = {
    val existing =
      if (new java.io.File(path).exists()) Some(graft.Caches.readParquet(spark, path))
      else None
    val all = existing.map(_.unionByName(updates)).getOrElse(updates)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(desc(versionCol))
    val merged = all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // rewrite via a temp dir: the plan reads `path`, so writing over it
    // in-place would delete its own input mid-scan
    val tmp = path + ".tmp"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    FileSwap.replace(new java.io.File(path), new java.io.File(tmp))
  }

  /** Snapshot-isolated variant over a [[Snapshot]] table — completing the
    * rewrite trio (Forget / Compact / upsert) under concurrent readers:
    * the merged table lands as the next generation and the pointer flips,
    * so a reader mid-scan of the live generation finishes its own
    * consistent snapshot. Same latest-wins window semantics.
    */
  def inSnapshot(spark: SparkSession, path: String, updates: DataFrame,
      keys: Seq[String], versionCol: String): Unit = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(desc(versionCol))
    Snapshot.update(spark, path) { live =>
      live.unionByName(updates)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
    ()
  }
}
