package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** Targeted-deletion rewrite — the "right to be forgotten" table operation:
  * drop every row whose `keyCol` matches the deletion set, rewrite the
  * parquet directory, swap atomically (FileSwap — a failed rewrite can
  * never destroy the only copy), and return (kept, dropped) as the audit
  * record a deletion request needs.
  *
  * Key matching is on the table column's NATIVE type: the deletion set is
  * cast to `schema(keyCol).dataType` up front, and any key that is null or
  * does not survive that cast (e.g. the string "x" against a bigint column)
  * is rejected with an error — a deletion request that silently matches
  * nothing is worse than one that fails loudly. String-vs-string matching
  * would under-delete on formatting mismatches (Long 1 vs a double column
  * rendering "1.0").
  *
  * Scale shape: the deletion list is always small relative to the table, so
  * the rewrite is ONE scan with a broadcast join (never a shuffle of the
  * table on the key); the scanned frame is persisted so the audit counts
  * and the rewrite consume the same pass. At 100 TB this runs per
  * partition-directory on a schedule, exactly like [[Compact]], and only
  * partitions that can contain a deleted key (partition pruning / min-max
  * stats) need rewriting at all.
  */
object Forget {

  /** Small in-memory deletion lists. */
  def apply(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Any]): (Long, Long) = {
    import spark.implicits._
    require(!keys.contains(null), "Forget: null deletion keys match nothing")
    val keyDf = keys.map(String.valueOf).toDF("__forget_key")
    rewrite(spark, path, keyCol, keyDf)
  }

  /** Deletion set as a DataFrame (single column) — the queue-of-requests
    * form; broadcast onto one scan of the table.
    */
  def apply(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): (Long, Long) = {
    rewrite(spark, path, keyCol, keys.toDF("__forget_key"))
  }

  /** Snapshot-isolated variant over a [[Snapshot]] table: the rewrite lands
    * as the next generation and flips the pointer, so concurrent readers of
    * the live generation finish their own consistent snapshot untouched
    * (the dir-swap `apply` assumes an exclusive writer). Same typed-key
    * validation and single-scan audit; returns (kept, dropped).
    */
  def inSnapshot(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Any]): (Long, Long) = {
    import spark.implicits._
    require(!keys.contains(null), "Forget: null deletion keys match nothing")
    val keyDf = keys.map(String.valueOf).toDF("__forget_key")
    var audit = (0L, 0L)
    Snapshot.update(spark, path) { df =>
      val marked = graft.Caches.persist(markHits(df, keyCol, keyDf))
      val counts = marked.agg(
          count(lit(1)).as("total"),
          count(col("__forget_hit")).as("dropped"))
        .head()
      audit = (counts.getLong(0) - counts.getLong(1), counts.getLong(1))
      marked.filter(col("__forget_hit").isNull).drop("__forget_hit")
    }
    graft.Caches.drain(spark)
    audit
  }

  /** Validate+type the deletion set against `keyCol` and mark each row of
    * `df`: `__forget_hit` is 1 on rows to drop, null on rows to keep.
    */
  private def markHits(df: DataFrame, keyCol: String,
      keyDf: DataFrame): DataFrame = {
    val keyType = df.schema(keyCol).dataType
    // typed deletion set, validated: every key must survive the cast to the
    // column's native type — a null (explicit or cast-failure) key would
    // silently match nothing in the join below
    // try_cast, NOT cast: under Spark 4's default ANSI mode a plain cast
    // of an uncastable key would throw from an executor before the loud
    // validation below ever runs — try_cast yields null, which the check
    // then rejects with the actionable message
    val typed = keyDf
      .select(col("__forget_key"),
        col("__forget_key").try_cast(keyType).as("__forget_typed"))
    val badKeys = typed
      .filter(col("__forget_key").isNull || col("__forget_typed").isNull)
      .count()
    require(badKeys == 0,
      s"Forget: $badKeys deletion key(s) are null or not castable to " +
        s"$keyType (column '$keyCol') — refusing a rewrite that would " +
        "silently skip them")
    // distinct: a key submitted twice (two deletion requests for the same
    // user) must not duplicate its matched rows through the left join
    val keySet = typed.select("__forget_typed").distinct()
      .withColumn("__forget_hit", lit(1))
    df.join(broadcast(keySet),
        col(keyCol) === col("__forget_typed"), "left")
      .drop("__forget_typed")
  }

  private def rewrite(spark: SparkSession, path: String, keyCol: String,
      keyDf: DataFrame): (Long, Long) = {
    val df = graft.Caches.readParquet(spark, path)
    // ONE scan: mark each row hit/kept, persist, derive both audit counts
    // and the rewrite from the same pass
    val marked = graft.Caches.persist(markHits(df, keyCol, keyDf))
    val tmp = new java.io.File(path + ".forget")
    try {
      val hitCol: Column = col("__forget_hit")
      val counts = marked.agg(
          count(lit(1)).as("total"),
          count(hitCol).as("dropped")) // count(col) = non-null rows = hits
        .head()
      val total = counts.getLong(0)
      val dropped = counts.getLong(1)
      marked.filter(hitCol.isNull).drop("__forget_hit")
        .write.mode(SaveMode.Overwrite).parquet(tmp.getPath)
      FileSwap.replace(new java.io.File(path), tmp)
      (total - dropped, dropped)
    } finally {
      marked.unpersist(blocking = false)
      // a failed write must not leave the scratch directory for the next
      // run to trip over (FileSwap consumed it on success)
      if (tmp.exists()) FileSwap.rm(tmp)
    }
  }
}
