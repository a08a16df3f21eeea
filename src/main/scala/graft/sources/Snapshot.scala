package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Generation-pointer table layout — SNAPSHOT ISOLATION for the rewrite
  * operations ([[Forget]], [[Compact]]) under concurrent readers.
  *
  * The directory-swap mode (FileSwap) assumes an exclusive writer: it
  * renames the live directory away, so a reader that listed files before
  * the swap dereferences dead paths mid-scan. This layout removes that
  * assumption the way every production table format does (Iceberg/Delta/
  * Hudi): data files are IMMUTABLE once written, and the table is a tiny
  * mutable POINTER to the current generation:
  *
  *   table/
  *     _current      <- one line: the live generation number (atomic flip)
  *     gen-0/...     <- plain parquet, never modified after commit
  *     gen-1/...
  *
  * A rewrite writes gen-(N+1) beside the live gen-N and then atomically
  * replaces `_current` (ATOMIC_MOVE of a temp file — readers see either N
  * or N+1, never a torn pointer). A reader resolves the pointer ONCE at
  * DataFrame definition and scans that generation's files, which no writer
  * will ever touch — so a reader mid-scan across a concurrent swap simply
  * finishes its own consistent snapshot (pinned in SourcesSpec). Old
  * generations are reclaimed only by an explicit [[vacuum]], the reader-
  * lifetime boundary the operator controls (retain > max query runtime).
  *
  * At 100 TB on an object store this is the same protocol verbatim:
  * immutable data objects + a manifest/pointer object flipped by
  * conditional PUT, with vacuum as a TTL'd garbage sweep — see SCALING.md.
  */
object Snapshot {

  private def pointerFile(path: String) = new java.io.File(path, "_current")

  /** The live generation number, or None for an uninitialized table. */
  def currentGen(path: String): Option[Long] = {
    val f = pointerFile(path)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").trim.toLong)
  }

  private def genDir(path: String, gen: Long) =
    new java.io.File(path, s"gen-$gen")

  /** Atomically flip `_current` to `gen` (write-temp-then-ATOMIC_MOVE). */
  private def commit(path: String, gen: Long): Unit = {
    val tmp = new java.io.File(path, s"_current.tmp")
    java.nio.file.Files.write(tmp.toPath, s"$gen\n".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, pointerFile(path).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Create the table at `path` with `df` as generation 0. */
  def init(spark: SparkSession, path: String, df: DataFrame): Unit = {
    require(currentGen(path).isEmpty, s"snapshot table already exists: $path")
    new java.io.File(path).mkdirs()
    df.write.mode(SaveMode.ErrorIfExists).parquet(genDir(path, 0L).getPath)
    commit(path, 0L)
  }

  /** Read the LIVE generation. The pointer is resolved here, once — the
    * returned DataFrame scans immutable files and is unaffected by any
    * later [[update]] (until those files are [[vacuum]]ed).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val gen = currentGen(path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    graft.Caches.readParquet(spark, genDir(path, gen).getPath)
  }

  /** TIME TRAVEL: read a specific (possibly superseded) generation — the
    * audit/debug read every table format exposes (`VERSION AS OF`). Valid
    * until [[vacuum]] reclaims it; a vacuumed generation fails loudly here
    * rather than returning a partial scan.
    */
  def readAt(spark: SparkSession, path: String, gen: Long): DataFrame = {
    val dir = genDir(path, gen)
    require(dir.isDirectory,
      s"generation $gen of $path does not exist (vacuumed, or never written)")
    graft.Caches.readParquet(spark, dir.getPath)
  }

  /** Serialize pointer mutations through a create-exclusive `_lock` file —
    * the local-FS stand-in for an object store's conditional PUT. A crash
    * while holding the lock leaves it behind; writers spin ~10 s and then
    * fail loudly naming the file, the deliberate manual-recovery tripwire
    * (a lease TTL at 100 TB).
    */
  private def withPointerLock[T](path: String)(body: => T): T = {
    val lock = new java.io.File(path, "_lock")
    var tries = 0
    var held = false
    while (!held) {
      try { java.nio.file.Files.createFile(lock.toPath); held = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          tries += 1
          if (tries > 1000) throw new IllegalStateException(
            s"could not acquire $lock after ~10s — stale lock from a " +
              "crashed writer? delete it to recover")
          Thread.sleep(10)
      }
    }
    try body finally java.nio.file.Files.deleteIfExists(lock.toPath)
  }

  /** Rewrite: materialize `f(live)` into an ANONYMOUS staging directory,
    * then COMPARE-AND-SWAP — under the pointer lock, verify `_current`
    * still names the generation this rewrite read, rename the staging
    * directory to gen-(N+1), and flip the pointer. Two racing rewriters
    * therefore cannot lose an update: the first to commit wins, the loser
    * throws ConcurrentModificationException and removes ONLY the staging
    * directory it created itself — never a directory another writer (or a
    * crashed prior attempt) owns. Readers of the previous generation are
    * untouched; the table is never in between. Returns the new generation.
    * The object-store analog is a conditional PUT of the pointer object
    * keyed on the generation the rewrite read (see SCALING.md).
    */
  def update(spark: SparkSession, path: String)
      (f: DataFrame => DataFrame): Long =
    update(spark, path, () => ())(f)

  /** [[update]] with a test seam: `onStaged` runs after the new generation
    * is fully staged, before the compare-and-swap — the window a competing
    * writer's commit must be detected in.
    */
  def update(spark: SparkSession, path: String, onStaged: () => Unit)
      (f: DataFrame => DataFrame): Long = {
    val gen = currentGen(path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val staged = new java.io.File(path,
      s".stage-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      f(readAt(spark, path, gen)).write.mode(SaveMode.ErrorIfExists)
        .parquet(staged.getPath)
      onStaged()
      withPointerLock(path) {
        val live = currentGen(path).get
        if (live != gen) throw new java.util.ConcurrentModificationException(
          s"snapshot $path moved gen-$gen -> gen-$live while this rewrite " +
            "ran; aborting (retry from the new live generation)")
        val next = gen + 1
        val dir = genDir(path, next)
        if (!staged.renameTo(dir)) throw new java.io.IOException(
          s"rename $staged -> $dir failed")
        commit(path, next)
        next
      }
    } finally {
      // only ever deletes the staging directory THIS call created; on
      // success it was renamed away and this is a no-op
      if (staged.exists()) FileSwap.rm(staged)
    }
  }

  /** Delete all generations except the live one and the newest `keepLast-1`
    * COMMITTED generations below it — an uncommitted orphan above live
    * (crash after staging-rename, before the pointer flip) never counts
    * against the retention promise and is reclaimed unconditionally, as
    * are abandoned `.stage-*` directories. This is the ONLY operation that
    * invalidates readers — schedule it with a retention comfortably above
    * the longest query, and never concurrently with an [[update]].
    * Returns the generations removed.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, "vacuum must keep at least the live generation")
    val live = currentGen(path).getOrElse(
      throw new IllegalArgumentException(s"not a snapshot table: $path"))
    val entries = Option(new java.io.File(path).listFiles()).getOrElse(Array())
    entries.filter(f => f.isDirectory && f.getName.startsWith(".stage-"))
      .foreach(FileSwap.rm)
    val gens = entries
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName.stripPrefix("gen-").toLong)
      .sorted
    val retained =
      (gens.filter(g => g < live).takeRight(keepLast - 1) :+ live).toSet
    val doomed = gens.filterNot(retained)
    doomed.foreach(g => FileSwap.rm(genDir(path, g)))
    doomed.toSeq
  }
}
