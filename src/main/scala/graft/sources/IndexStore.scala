package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one parquet-backed BUILD-ONCE artifact store. An index
  * over a corpus is a build-once-query-many artifact: its build is one or
  * more full passes over the corpus, while every consumer only needs the
  * resulting frames — so those are written out once and every later query,
  * session or ingest-job restart reads parquet scans instead of re-running
  * the build. At production scale an entry would live beside the source
  * table on shared storage; here each family has a local root.
  *
  * FAMILIES — each with its own root conf and format version:
  *   - [[Ivf]]: the `operators.IvfIndex` vector indexes (frames `assigned`,
  *     `cells`). Root `graft.ivf.cacheDir`, default
  *     `<user.dir>/target/graft-ivf`.
  *   - [[Screens]]: the streaming screens' corpus indexes
  *     (`streaming.Streams.{CorpusIndex, ContainmentIndex, SimHashIndex,
  *     PhashIndex, VideoIndex}`). Root `graft.screen.cacheDir`, default
  *     `<user.dir>/target/graft-screens`.
  * The defaults are per checkout (`target/` is build output), so two
  * checkouts on one host never load each other's artifacts.
  *
  * ENTRY: `<root>/<key>[-sh<S>]-n<N>-v<V>` — `key` names the corpus
  * (callers pass the table path; it is sanitised to `[A-Za-z0-9._-]`),
  * `-sh<S>` appears only for a layout of S > 1 shards, N is the corpus row
  * count (a corpus that changes size selects a new entry; callers take it
  * from [[graft.Caches.countOnce]], one job per session) and V is the
  * family's `fmtVersion`, which invalidates entries written by an older
  * build algorithm.
  *
  * COMMIT MARKER: every frame is written first (each ends with Spark's
  * `_SUCCESS`), then `meta.json` — the scalar meta the index needs on
  * reload (byte estimates, stratum bounds; `{}` for IVF). An entry missing
  * either is incomplete and is rebuilt in place.
  *
  * SHAPE RULE for the sweeps ([[pruneStale]], `IvfIndex.vacuumCache`,
  * `IvfIndex.forgetStored`): a root may be shared scratch space, so a
  * directory counts as an entry only when its name has the entry shape
  * above AND it is non-empty AND each child is a directory or `meta.json`
  * — never a user directory that happens to live beside the entries.
  */
object IndexStore {
  sealed abstract class Family(val conf: String, dirName: String, val fmtVersion: Int) {
    private[graft] def root(spark: SparkSession): String =
      spark.conf.getOption(conf)
        .getOrElse(s"${sys.props("user.dir")}/target/$dirName")
  }
  /** Bump whenever `IvfIndex.build`'s output changes. */
  case object Ivf extends Family("graft.ivf.cacheDir", "graft-ivf", 2)
  /** Bump whenever any screen index builder's OUTPUT changes.
    * v2 = interleaved HammingJoin block keys (round 13). */
  case object Screens extends Family("graft.screen.cacheDir", "graft-screens", 2)

  /** One directory under a family root that passes the shape rule. */
  private[graft] final case class Entry(dir: java.io.File, key: String,
      shards: Int, version: Int)

  private val shape = raw"^(.*?)(?:-sh(\d+))?-n\d+-v(\d+)$$".r

  private[graft] def safeKey(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_")

  private def artifactDir(spark: SparkSession, fam: Family, key: String,
      n: Long, shards: Int): String = {
    val sh = if (shards > 1) s"-sh$shards" else ""
    s"${fam.root(spark)}/${safeKey(key)}$sh-n$n-v${fam.fmtVersion}"
  }

  /** Every entry under `fam`'s root, of any version (see the shape rule). */
  private[graft] def entries(spark: SparkSession, fam: Family): Seq[Entry] =
    Option(new java.io.File(fam.root(spark)).listFiles()).getOrElse(Array.empty)
      .toSeq.flatMap { d =>
        val children = Option(d.listFiles()).getOrElse(Array.empty)
        d.getName match {
          case shape(key, sh, v) if children.nonEmpty &&
            children.forall(c => c.isDirectory || c.getName == "meta.json") =>
            Some(Entry(d, key, Option(sh).fold(1)(_.toInt), v.toInt))
          case _ => None
        }
      }

  /** Write `frames` in order (each repartitioned by its `shardCols`, if
    * any), then the `meta.json` commit marker, into the entry for
    * (`key`, `n`, `shards`).
    */
  private[graft] def save(spark: SparkSession, fam: Family, key: String,
      n: Long, shards: Int, frames: Seq[(String, DataFrame)],
      shardCols: Map[String, Seq[String]] = Map.empty,
      meta: Map[String, Long] = Map.empty): Unit = {
    val dir = artifactDir(spark, fam, key, n, shards)
    frames.foreach { case (fn, f) =>
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

  /** Load the named frames + meta from the entry for (`key`, `n`,
    * `shards`), or run `build` once and [[save]] its result first. `build`
    * returns the frames (name → frame) and the scalar meta the index case
    * class carries — everything a restart needs WITHOUT re-featurizing the
    * corpus. Frames named in `shardCols` are written `repartition(cols)`,
    * so an over-gate shuffle plan (a byte gate flipping a join off its
    * broadcast) reads files already clustered by the key it shuffles on.
    * The returned frames are parquet scans — nothing to persist, nothing
    * to leak.
    */
  private[graft] def loadOrBuild(spark: SparkSession, fam: Family, key: String,
      n: Long, frameNames: Seq[String],
      shardCols: Map[String, Seq[String]] = Map.empty, shards: Int = 1)(
      build: => (Map[String, DataFrame], Map[String, Long]))
      : (Map[String, DataFrame], Map[String, Long]) = {
    val dir = artifactDir(spark, fam, key, n, shards)
    val complete = new java.io.File(dir, "meta.json").isFile &&
      frameNames.forall(f => new java.io.File(s"$dir/$f", "_SUCCESS").isFile)
    if (!complete) {
      val (frames, meta) = build
      save(spark, fam, key, n, shards, frameNames.map(fn => fn -> frames(fn)),
        shardCols, meta)
    }
    val frames = frameNames.map(fn => fn -> graft.Caches.readParquet(spark, s"$dir/$fn")).toMap
    val metaTxt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
    val meta = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(metaTxt)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    (frames, meta)
  }

  /** Delete the entries of every family written by an OTHER `fmtVersion`.
    * A version bump strands every older entry forever, and repeated
    * harness runs accumulate them; Verify and Bench call this once at
    * start-up. Current-version entries are kept — they ARE the build-once
    * artifacts the store exists for.
    */
  def pruneStale(spark: SparkSession): Unit =
    Seq(Ivf, Screens).foreach { fam =>
      entries(spark, fam).filter(_.version != fam.fmtVersion)
        .foreach(e => FileSwap.rm(e.dir))
    }
}
