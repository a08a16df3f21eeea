package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Session-scoped registry of query-local `persist()`s.
  *
  * Operators persist frames that are consumed several times WITHIN one query
  * (tokenizations, distinct-set encodings, vector norms, index assignments).
  * Left unreleased, those blocks accumulate across a long session — Bench
  * runs 81 queries in one JVM — until memory pressure and GC churn slow
  * every later query, including untouched ones. Routing every query-local
  * persist through this registry lets the harness drain ALL of a query's
  * caches the moment its result has been consumed:
  *
  *   - operators call `Caches.persist(df)` instead of `df.persist()`;
  *   - Bench / Verify / tests call `Caches.drain(spark)` after each query.
  *
  * It is also the session's one memo registry. Each memo and its key:
  *
  *   - parquet schemas ([[readParquet]]): (path) → schema, valid while the
  *     path's leaf files (names, sizes, mtimes) and the schema-relevant
  *     parquet confs match; survives `drain`;
  *   - statistics (`countOnce`/`rowOnce` on unpersisted frames): the
  *     canonical analyzed plan, file relations keyed by the same leaf-file
  *     fingerprint; survives `drain`;
  *   - primed statistics (the same calls on persisted frames): the same
  *     key, valid only while the cache entry is materialized; `drain` and
  *     `scoped` exit clear it.
  *
  * `invalidateCounts` drops all of a session's memos. Intentional
  * cross-query frames (Dashboard's generated frame) stay outside this
  * registry and keep their own release hooks.
  */
object Caches {
  // plain map, honest semantics: entries live until drain() — the registered
  // DataFrames reference their session anyway, so key-weakness could never
  // reclaim them. Harnesses drain per query; a session that skips draining
  // holds its own caches alive exactly as if it had called .persist() itself.
  private val reg = new java.util.HashMap[
    SparkSession, scala.collection.mutable.ArrayBuffer[DataFrame]]()

  // an active scope() on this thread captures persists INSTEAD of the
  // session registry — so long-lived library sinks (foreachBatch bodies)
  // can release exactly the frames their own batch registered without
  // drain()'s global sweep unpersisting frames owned by other queries
  // running concurrently on the same session
  private val local =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Persist `df` (default MEMORY_AND_DISK) and register it for `drain` —
    * or, inside a [[scoped]] block on this thread, for that scope's exit.
    */
  def persist(df: DataFrame): DataFrame = {
    val l = local.get()
    if (l != null) { l += df; return df.persist() }
    reg.synchronized {
      var buf = reg.get(df.sparkSession)
      if (buf == null) {
        buf = scala.collection.mutable.ArrayBuffer[DataFrame]()
        reg.put(df.sparkSession, buf)
      }
      buf += df
    }
    df.persist()
  }

  /** [[persist]], idempotent per canonical plan: if an equivalent plan is
    * already cached this session (CacheManager compares canonicalized
    * plans), return `df` untouched instead of re-registering — so helpers
    * that several code paths call with the same derived frame (dfreq,
    * tokenizations) share ONE cache entry without "already cached" warnings
    * and without double drain entries. The first caller's registration
    * owns the drain.
    */
  def persistShared(df: DataFrame): DataFrame = reg.synchronized {
    // check-then-persist under the registry lock (r14): two threads
    // building equivalent plans concurrently could both observe
    // StorageLevel.NONE and both persist — re-introducing the "already
    // cached" warning and the double drain entry this helper exists to
    // prevent (persist() re-enters the same lock; reentrant, no deadlock)
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else persist(df)
  }

  /** Run `body`; on exit unpersist ONLY the frames `persist`ed during it on
    * this thread. Every plan the body wants to outlive the scope must be
    * materialized (e.g. `localCheckpoint(eager = true)`) before it returns —
    * lazy plans would recompute. Nested scopes release innermost-first.
    */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val prev = local.get()
    local.set(buf)
    try body
    finally {
      local.set(prev)
      buf.foreach { df =>
        df.unpersist(blocking = false)
        // release any primed-count entry whose cache entry this unpersist
        // just invalidated (see countOnce: primed hits skip the prime job)
        primed.synchronized(primed.remove(planKey(df)))
        primedRows.synchronized(primedRows.remove(planKey(df)))
      }
    }
  }

  /** The frames registered for `s` since the last drain, oldest first. */
  private[graft] def registered(s: SparkSession): Seq[DataFrame] =
    reg.synchronized(Option(reg.get(s)).map(_.toList).getOrElse(Nil))

  /** Unpersist every frame registered for `s` since the last drain. */
  def drain(s: SparkSession): Unit = {
    reg.synchronized {
      Option(reg.remove(s)).foreach(_.foreach(_.unpersist(blocking = false)))
    }
    // the primed-count memo is only valid while the underlying cache entry
    // is materialized — the next query re-persists an equivalent plan COLD
    // and its first countOnce must re-run to prime it
    primed.synchronized(primed.filterInPlace { case ((ks, _), _) => ks != s })
    primedRows.synchronized(primedRows.filterInPlace { case ((ks, _), _) => ks != s })
  }

  // ---- parquet reads ----------------------------------------------------
  // A plain parquet read of a path infers the schema on every call: a
  // one-task footer job plus driver time, and a warm x3_hybrid_search build
  // reads four paths. Every engine parquet read goes through
  // readParquet, which infers once per (path, file fingerprint, schema-
  // relevant confs) and reads later with that schema — no job.
  private final case class SchemaMemo(
      confs: Seq[Option[String]], files: Any, schema: StructType)
  private val schemas = scala.collection.mutable.HashMap[(SparkSession, String), SchemaMemo]()

  // confs that change what parquet schema inference returns for the same
  // files (Tables.load sets nanosAsLong for events)
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** What a file relation's scan would read: its root paths plus every
    * leaf file's (path, size, mtime), taken from the relation's own
    * already-listed `FileIndex` — no second listing.
    */
  private def fingerprint(fs: HadoopFsRelation): Any = fs.location match {
    case idx: PartitioningAwareFileIndex =>
      (idx.rootPaths.map(_.toString),
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_._1))
    case idx => idx.rootPaths.map(_.toString)
  }

  private def fingerprint(df: DataFrame): Seq[Any] =
    df.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fingerprint(fs) }

  /** A parquet read of `path`, with the inferred schema memoized per
    * session. A memo hit reads with `.schema(memo)` (no inference job) and
    * is kept only if the files it listed match the memo's [[fingerprint]]
    * and the schema-relevant confs are unchanged; otherwise the path is
    * re-inferred and its one entry replaced. A path deleted since it was
    * memoized fails the hit-path read and falls through to the plain read,
    * so it fails exactly as an uncached read does; an emptied directory
    * lists no files, misses, and fails inference as before.
    * [[invalidateCounts]] drops the entries; [[drain]] keeps them.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = (spark, path)
    val confs = schemaConfs.map(spark.conf.getOption)
    val hit = schemas.synchronized(schemas.get(key)).filter(_.confs == confs).flatMap { m =>
      try Some(spark.read.schema(m.schema).parquet(path)).filter(fingerprint(_) == m.files)
      catch { case _: AnalysisException => None }
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      schemas.synchronized(schemas.put(key, SchemaMemo(confs, fingerprint(df), df.schema)))
      df
    }
  }

  // ---- memoized statistics counts ------------------------------------
  // Every Broadcasts.gate site pays an eager .count() at plan-construction
  // time. At sf0.1 that is 0.2-0.3 s of constant; at 100 TB a count over a
  // derived frame (tokenized sets, an index's assigned frame) is a full
  // scan per QUERY BUILD — and several queries build over the same input
  // in one session (Bench runs 158). Keyed by the ANALYZED plan's
  // canonical form with file relations keyed by their leaf files
  // (planKey), the scan runs once per distinct input per session; drain()
  // leaves the memo alone (the underlying data hasn't changed — only the
  // cache blocks are released), and an in-place rewrite lists new files,
  // so it misses.
  private val counts = scala.collection.mutable.HashMap[(SparkSession, Any), Long]()

  // counts of PERSISTED frames whose shared cache entry has already been
  // primed this drain-window — valid only while that entry is materialized,
  // so drain()/scoped() clear it (unlike `counts`, which outlives drains)
  private val primed = scala.collection.mutable.HashMap[(SparkSession, Any), Long]()
  private val primedRows = scala.collection.mutable.HashMap[
    (SparkSession, Any), org.apache.spark.sql.Row]()

  /** The memo key: the canonicalized analyzed plan, with every file
    * relation replaced by a structural stand-in. Canonicalization alone
    * is NOT enough — `HadoopFsRelation` carries a `FileIndex` compared by
    * REFERENCE, so two reads of the same path never compare equal and
    * every query build would re-pay its count. Keying the file relations
    * by (file [[fingerprint]], schema, format) and everything else
    * (including LocalRelation DATA — two in-memory frames with equal
    * schemas but different rows must not collide) by canonical structure
    * gives value-equality exactly when the scan would return the same
    * rows — and a table rewritten in place at the same path (FileSwap)
    * lists new leaf files, so it misses the memo without any
    * [[invalidateCounts]].
    */
  private def planKey(df: DataFrame): (SparkSession, Any) = {
    val p = df.queryExecution.analyzed.canonicalized
    val rels = p.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          (fingerprint(fs), fs.dataSchema, fs.fileFormat.getClass.getName): Any
        case o => o: Any
      }
    }
    val skeleton = p.transform {
      case lr: LogicalRelation =>
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(lr.output)
    }
    (df.sparkSession, (skeleton, rels))
  }

  /** `df.count()`, memoized per (session, canonicalized analyzed plan).
    * For gate-site STATISTICS only — not for counts whose freshness
    * matters against a frame being rewritten under the same plan.
    *
    * PERSISTED frames are exempt from the memo and always count: their
    * eager gate count is not just a statistics scan, it is the SERIAL
    * cache-priming their multi-consumer owner depends on. A memo hit that
    * skips it pushes materialization into the query's parallel DAG, where
    * several independent stages compute the cold cache through per-
    * partition cache locks and convoy the task slots — measured on
    * x2_jaccard_bigram at sf3: 54 s with the eager count, 86-134 s with
    * the value-only memo, and the heap churn degraded even the FOLLOWING
    * unrelated query 3-5x (x4_tfidf 3.4 -> 10-20 s). The memo therefore
    * covers exactly the inputs with no cache to prime: table/artifact
    * parquet reads and unpersisted derived frames.
    */
  def countOnce(df: DataFrame): Long = {
    // UI/profiler attribution: gate-site statistics jobs are otherwise
    // indistinguishable blips between the real stages (guide §1.5)
    def labeled(body: => Long): Long = Caches.labeled(df.sparkSession,
      s"countOnce:${df.schema.fieldNames.take(4).mkString(",")}" +
        (if (df.storageLevel !=
          org.apache.spark.storage.StorageLevel.NONE) " (cache-prime)" else ""))(body)
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      // persisted frames: the FIRST count per canonical plan is the serial
      // cache-prime the owner depends on (see the x2_jaccard_bigram note
      // below) and always runs — but REPEAT countOnce calls on the same
      // shared cache entry (the funnel's cluster + containment legs both
      // gate on the same raritySets frame) were each paying another count
      // job over the warm cache: ~0.1-0.4 s × 9 jobs per
      // x4_funnel_containment build at sf0.1 (r14). Once primed, the
      // value is served from the memo; drain()/scoped() invalidate it
      // together with the cache entry it describes.
      val key = planKey(df)
      primed.synchronized(primed.get(key)) match {
        case Some(c) => return c
        case None =>
          val c = labeled(df.count())
          return primed.synchronized(primed.getOrElseUpdate(key, c))
      }
    }
    val key = planKey(df)
    counts.synchronized(counts.get(key)) match {
      case Some(c) => c
      case None =>
        val c = labeled(df.count()) // outside the lock: a scan can be long
        counts.synchronized(counts.getOrElseUpdate(key, c))
    }
  }

  /** Run `body` under a job description so gate/statistics jobs are
    * attributable in the UI and the joblog profiler (guide §1.5). */
  def labeled[T](s: SparkSession, desc: String)(body: => T): T = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  // single-Row statistics memo (same key + policy as countOnce, for
  // dispatch sites whose decision needs more than one scalar — merging
  // the scalars into one agg job halves the eager-job count per build)
  private val rows = scala.collection.mutable.HashMap[
    (SparkSession, Any), org.apache.spark.sql.Row]()

  /** `df.head()`, memoized per (session, canonicalized analyzed plan) —
    * for one-row STATISTICS aggregates over derived (unpersisted) frames.
    * Persisted frames bypass the memo exactly like countOnce (their eager
    * evaluation is cache-priming, not just statistics).
    */
  def rowOnce(df: DataFrame, desc: String): org.apache.spark.sql.Row = {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      // primed-window memo, exactly like countOnce: first call per shared
      // cache entry primes it, repeats within the drain-window are served
      // without another job (the funnel's legs re-ran the setsim stat
      // aggregate 4× over one warm tok cache — ~1 s per build at sf0.1)
      val key = planKey(df)
      primedRows.synchronized(primedRows.get(key)) match {
        case Some(r) => return r
        case None =>
          val r = labeled(df.sparkSession, desc)(df.head())
          return primedRows.synchronized(primedRows.getOrElseUpdate(key, r))
      }
    }
    val key = planKey(df)
    rows.synchronized(rows.get(key)) match {
      case Some(r) => r
      case None =>
        val r = labeled(df.sparkSession, desc)(df.head())
        rows.synchronized(rows.getOrElseUpdate(key, r))
    }
  }

  /** Drop `s`'s memoized counts, rows and parquet schemas. */
  def invalidateCounts(s: SparkSession): Unit = {
    schemas.synchronized(schemas.filterInPlace { case ((ks, _), _) => ks != s })
    counts.synchronized(counts.filterInPlace { case ((ks, _), _) => ks != s })
    rows.synchronized(rows.filterInPlace { case ((ks, _), _) => ks != s })
    primed.synchronized(primed.filterInPlace { case ((ks, _), _) => ks != s })
    primedRows.synchronized(primedRows.filterInPlace { case ((ks, _), _) => ks != s })
  }
}
