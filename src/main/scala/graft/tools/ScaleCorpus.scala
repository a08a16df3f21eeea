package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build a k×-scaled replica of a testdata directory (default k=10: the
  * sf1 point from sf0.1) for full-bench scale runs and query-list sweeps.
  *
  * Replication preserves the QUERY-RELEVANT structure instead of
  * manufacturing artifacts:
  *   - fact/entity keys are offset per replica (disjoint id spaces: join
  *     fan-outs, distinct counts, and group cardinalities grow k×, exactly
  *     like a larger TPC-H scale factor);
  *   - nation/region stay single-copy (they are fixed-cardinality
  *     dimensions at every TPC-H scale factor — customers-per-nation is
  *     what grows);
  *   - timestamps are untouched (rows-per-time-bucket grows k×, so
  *     windowed/sessionized plans feel the growth in group SIZE);
  *   - document tokens are suffixed `_r` per replica (disjoint vocabularies
  *     — no manufactured cross-replica near-dups) and embeddings are
  *     circularly shifted (within-replica geometry exact).
  *
  * Usage: runMain graft.tools.ScaleCorpus [baseDir] [outDir] [k]
  * then:  SPARK_GRAFT_SF_DIR=<outDir> runMain graft.Bench
  * or:    runMain graft.tools.ProfileMain <outDir> <query...>
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(1).headOption.getOrElse("/tmp/graft-sf1")
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    build(spark, baseDir, outDir, k)
    spark.stop()
  }

  /** Per-replica key offset — far above any base id, so replica id spaces
    * never collide; divisible by every small modulus the queries use
    * (e.g. `vec_id % 50 == 0` query sampling picks k× queries, matching
    * the k× corpus).
    */
  private val Off = 100000000L

  def build(spark: SparkSession, baseDir: String, outDir: String,
      k: Int): Unit = {
    def replicate(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val path = s"$outDir/$name.parquet"
      if (!new java.io.File(s"$path/_SUCCESS").isFile) {
        val base = graft.Tables.load(spark, baseDir, name)
        (0 until k).map(r => remap(base, r))
          .reduce(_.unionAll(_)).write.mode("overwrite").parquet(path)
        println(s"[scalecorpus] built $path (x$k)")
      } else println(s"[scalecorpus] reusing $path")
    }
    def id(r: Int)(c: String) = (col(c) + lit(r * Off)).as(c)

    // fixed-cardinality dimensions: single copy
    Seq("region", "nation").foreach(n =>
      replicate(n)((d, r) => if (r == 0) d else d.limit(0)))
    replicate("customer")((d, r) =>
      d.select(id(r)("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")))
    replicate("supplier")((d, r) =>
      d.select(id(r)("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal")))
    replicate("part")((d, r) =>
      d.select(id(r)("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")))
    replicate("orders")((d, r) =>
      d.select(id(r)("o_orderkey"), id(r)("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    replicate("lineitem")((d, r) =>
      d.select(id(r)("l_orderkey"), id(r)("l_partkey"), id(r)("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")))
    replicate("events")((d, r) =>
      d.select(id(r)("event_id"), col("ts"), id(r)("user_id"),
        col("event_type"), col("value"), col("props")))
    // LLM corpus: a token-suffix remap (disjoint vocabularies across
    // replicas — no manufactured token-level near-dups) PLUS an r-char
    // leading pad token: byte-level fingerprints (image row
    // hashes, audio frame energies, video luma sums) window the raw bytes,
    // and un-shifted replicas of one doc differ by a single digit per
    // token — hamming-2 "near-dups" the corpus never asked for. The pad
    // shifts every window boundary by r bytes, decorrelating the replicas'
    // fingerprints while leaving within-replica structure exact.
    replicate("documents")((d, r) =>
      if (r == 0) d
      else d.select(
        (col("doc_id") + lit(r * Off)).as("doc_id"),
        concat(lit("x" * r + " "), concat_ws(" ", transform(split(col("text"), " "),
          x => concat(x, lit(s"_$r"))))).as("text"),
        col("lang"), col("source"))
        // the pad+suffix remap changes the payload length, so the size
        // metadata must follow it — queries deriving per-doc sizes from
        // n_chars (avg_chars, the (lang, n_chars) dedup key) would
        // otherwise see metadata inconsistent with the text they group
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars"))
    // circular shift by r (mod the 64 dims — a raw r-shift goes negative in
    // slice at k > 64); once the shifts wrap (r >= 64) a replica would
    // repeat replica r-64's vectors exactly, manufacturing cross-replica
    // sim-1.0 dup pairs the corpus never asked for — so wrapped replicas
    // additionally negate the odd-indexed elements (norm-preserving, and
    // on isotropic vectors the alternate-sign flip drives the cosine to
    // the two halves' difference ~ 0). Replicas 1..63 are BIT-IDENTICAL
    // to the pre-fix remap, so the existing sf1/sf3 corpora and their
    // budget pins are unchanged.
    replicate("embeddings")((e, r) =>
      if (r == 0) e
      else {
        val sh = r % 64
        val shifted =
          if (sh == 0) col("embedding")
          else concat(slice(col("embedding"), sh + 1, 64 - sh),
            slice(col("embedding"), 1, sh))
        val dec =
          if (r < 64) shifted
          else transform(shifted,
            (x, i) => when(i % 2 === 1, -x).otherwise(x))
        e.select(
          (col("vec_id") + lit(r * Off)).as("vec_id"),
          dec.as("embedding"),
          col("label"))
      })
  }
}
