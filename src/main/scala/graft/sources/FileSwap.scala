package graft.sources

/** Crash-safe directory replacement for the local rewrite sinks (Compact,
  * KeyedUpsert, the streaming curation state compactor): move the ORIGINAL
  * aside first, rename the new directory in, and only then delete the
  * original — so a failed rename (permissions, cross-filesystem tmp) can
  * never destroy the only copy of the table, and every rename's Boolean
  * result is checked instead of ignored.
  */
private[graft] object FileSwap {

  /** Recursive delete — the engine's one copy. */
  private[graft] def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Replace `target` with `fresh` (both directories). On failure the
    * original is restored (or left at `<target>.old` with an error naming
    * it), never silently lost.
    */
  def replace(target: java.io.File, fresh: java.io.File): Unit = {
    require(fresh.exists(), s"replacement directory $fresh does not exist")
    val aside = new java.io.File(target.getPath + ".old")
    if (aside.exists()) rm(aside)
    val hadTarget = target.exists()
    if (hadTarget && !target.renameTo(aside))
      throw new java.io.IOException(
        s"could not move $target aside to $aside; table left untouched")
    if (!fresh.renameTo(target)) {
      // roll the original back before failing
      if (hadTarget && !aside.renameTo(target))
        throw new java.io.IOException(
          s"rename $fresh -> $target failed AND rollback failed; " +
            s"original preserved at $aside")
      throw new java.io.IOException(
        s"rename $fresh -> $target failed (cross-filesystem tmp?); " +
          "original restored")
    }
    if (hadTarget) rm(aside)
  }
}
