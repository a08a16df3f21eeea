package graft.sources

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-files compaction: rewrite a parquet directory into
  * ceil(bytes/target) files. Streaming keyed sinks (Streams.keyedParquetSink)
  * and per-batch upserts accumulate small files; at 100 TB an uncompacted
  * table means millions of scan tasks and dead NameNode/liststore time.
  * Run on a schedule, partition by partition.
  */
object Compact {
  def apply(spark: SparkSession, path: String,
      targetFileBytes: Long = 256L * 1024 * 1024): Int = {
    val bytes = {
      def size(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      size(new java.io.File(path))
    }
    val files = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = graft.Caches.readParquet(spark, path)
    val tmp = path + ".compact"
    df.coalesce(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    FileSwap.replace(new java.io.File(path), new java.io.File(tmp))
    files
  }

  /** Snapshot-isolated variant over a [[Snapshot]] table: the compacted
    * copy lands as the next generation and the pointer flips, so readers
    * mid-scan of the live generation are untouched (the dir-swap `apply`
    * assumes an exclusive writer). Returns the file count written.
    */
  def inSnapshot(spark: SparkSession, path: String,
      targetFileBytes: Long = 256L * 1024 * 1024): Int = {
    val gen = Snapshot.currentGen(path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val bytes = {
      def size(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      size(new java.io.File(path, s"gen-$gen"))
    }
    val files = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Snapshot.update(spark, path)(_.coalesce(files))
    files
  }
}
