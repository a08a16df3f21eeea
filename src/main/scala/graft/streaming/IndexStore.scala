package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed BUILD-ONCE store for the streaming screens' corpus
  * indexes ([[Streams.CorpusIndex]], [[Streams.ContainmentIndex]],
  * [[Streams.SimHashIndex]], [[Streams.PhashIndex]],
  * [[Streams.VideoIndex]]) — the `IvfIndex.loadOrBuild` contract applied
  * to the screen family.
  *
  * Why: every screen index was rebuilt per process — tokenize/decode the
  * WHOLE corpus again on each ingest-job restart. Against a 100 TB corpus
  * that is a full featurization pass whose output never changes while the
  * corpus doesn't. The 100 TB form (SCALING.md "streaming screens") is a
  * parquet artifact sharded by the screen's equi-join key, built once
  * beside the corpus and re-read by every restart; this store is exactly
  * that, keyed by `(source key, corpus rowcount, fmtVersion)`:
  *
  *   - the SOURCE KEY names the corpus (callers pass the table path);
  *   - the ROWCOUNT invalidates the artifact when the corpus grows (the
  *     count rides [[graft.Caches.countOnce]], so it is one job per
  *     session, not one per screen);
  *   - `fmtVersion` invalidates artifacts written by an older build
  *     algorithm — bumped THIS round because the fingerprint screens'
  *     block keys moved from contiguous to interleaved layout; a stale
  *     contiguous-key artifact probed with interleaved keys would
  *     silently miss every pair.
  *
  * Frames are written `repartition(join-key)` so the over-gate shuffle
  * plan (the byte gate flipping a screen join off its broadcast) reads
  * files already clustered by the key it shuffles on.
  */
object IndexStore {
  /** Bump whenever any screen index builder's OUTPUT changes.
    * v2 = interleaved HammingJoin block keys (round 13). */
  private[graft] val fmtVersion = 2

  private def cacheRoot(spark: SparkSession): String =
    spark.conf.getOption("graft.screen.cacheDir")
      .orElse(sys.env.get("SPARK_GRAFT_SCREEN_CACHE"))
      .getOrElse(sys.props("java.io.tmpdir") + "/graft-screens")

  /** Artifact directory for `key` over an `n`-row corpus. */
  private[graft] def artifactDir(spark: SparkSession, key: String, n: Long): String = {
    val safe = key.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${cacheRoot(spark)}/$safe-n$n-v$fmtVersion"
  }

  private def complete(dir: String, names: Seq[String]): Boolean =
    new java.io.File(dir, "meta.json").isFile &&
      names.forall(f => new java.io.File(s"$dir/$f", "_SUCCESS").isFile)

  /** Load the named frames + meta from the artifact for (`key`, `n`), or
    * run `build` once and persist its result. `build` returns the frames
    * (name → (frame, repartition columns)) and the scalar meta (byte
    * estimates, stratum bounds) the index case class carries — everything
    * a restart needs WITHOUT re-featurizing the corpus.
    */
  private[graft] def loadOrBuild(spark: SparkSession, key: String, n: Long,
      frameNames: Seq[String], shardCols: Map[String, Seq[String]])(
      build: => (Map[String, DataFrame], Map[String, Long]))
      : (Map[String, DataFrame], Map[String, Long]) = {
    val dir = artifactDir(spark, key, n)
    if (!complete(dir, frameNames)) {
      val (frames, meta) = build
      frameNames.foreach { fn =>
        val f = frames(fn)
        val sharded = shardCols.getOrElse(fn, Nil) match {
          case Nil => f
          case cs => f.repartition(cs.map(org.apache.spark.sql.functions.col): _*)
        }
        sharded.write.mode("overwrite").parquet(s"$dir/$fn")
      }
      val json = meta.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "meta.json"),
        (json + "\n").getBytes("UTF-8"))
    }
    val frames = frameNames.map(fn => fn -> graft.Caches.readParquet(spark, s"$dir/$fn")).toMap
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    val meta = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(metaTxt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    (frames, meta)
  }

  /** Delete screen artifacts written by an OTHER fmtVersion — same
    * conservative shape-checked sweep as `IvfIndex.pruneStaleCache`
    * (the cache root may be shared scratch): only `*-nN-vV` directories
    * whose children are parquet frame dirs or meta.json are removed.
    */
  def pruneStale(spark: SparkSession): Unit = {
    val root = new java.io.File(cacheRoot(spark))
    val keyShape = raw".*-n\d+-v(\d+)$$".r
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    def artifactShaped(d: java.io.File): Boolean =
      Option(d.listFiles()).getOrElse(Array.empty).forall { c =>
        (c.isFile && c.getName == "meta.json") ||
          (c.isDirectory && new java.io.File(c, "_SUCCESS").isFile)
      }
    Option(root.listFiles()).getOrElse(Array.empty).foreach { d =>
      d.getName match {
        case keyShape(v) if d.isDirectory &&
          v != fmtVersion.toString && artifactShaped(d) => rm(d)
        case _ => ()
      }
    }
  }
}
