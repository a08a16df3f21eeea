package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev-only filtered run
    // (the driver always runs the full set; oracle_sql.json is trimmed to
    // the filter so dev/check.py on the scratch dir checks just those)
    val (Array(sfDir, outDir), filter) = (args.take(2), args.drop(2).headOption
      .map(_.split(',').toSet))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF: semicolon-separated key=value session confs — used
    // by dev/check.py --sf runs to FORCE a statistics-gated operator onto
    // its non-default path (e.g. graft.hamming.bucketThreshold=0) and
    // hash-match that plan against the same oracle
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
      })
    new java.io.File(outDir).mkdirs()
    // stale index artifacts from older fmtVersions accumulate across
    // harness runs — prune once per run (current-version entries are kept)
    graft.sources.IndexStore.pruneStale(spark)
    // the q_iot_* oracles read the deterministic generated frame from a
    // fixed scratch path — materialize it before the driver's DuckDB pass
    try graft.queries.Dashboard.materializeOracleInput(spark)
    catch { case e: Throwable =>
      System.err.println(s"[verify] iot oracle input failed: ${e.getMessage}")
    }
    val selected = filter.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter { case (n, _) => f(n) })
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query drain: registered persists must not outlive their query
      graft.Caches.drain(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = filter.fold(SparkEntry.oracleSql)(f =>
      SparkEntry.oracleSql.filter { case (n, _) => f(n) })
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release every frame the queries persisted (Dashboard memo, dedup
    // token/set frames, IVF assignments) — cached partitions must not
    // outlive the run
    graft.queries.Dashboard.clearCache(spark)
    graft.queries.Llm.clearCache(spark)
    spark.catalog.clearCache()
    spark.stop()
  }
}
