package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Optimistic-concurrency version chain — the table-format commit
  * primitive the CoW snapshot family (q300/q304) and the serving-index
  * lifecycle (q309) build on, and the conflict-detection surface q316
  * exercises end to end.
  *
  * Layout under a root directory:
  * {{{
  *   root/v00001/        immutable data (parquet)
  *   root/v00001.commit  zero-byte commit marker, created ATOMICALLY
  * }}}
  *
  * The MARKER is the atomic step: an exclusive create (HDFS
  * namenode-atomic; local fs O_EXCL, see [[createExclusive]]), so of two
  * writers racing the same next version exactly ONE wins — a
  * compare-and-swap on the chain head. Each writer stages its data in
  * its OWN attempt directory (two losers must never interleave bytes
  * under one path); only the CAS winner renames its attempt to the
  * version path. Readers resolve `latest` as the highest committed
  * version, so a lost-race attempt is invisible and old versions stay
  * readable (time travel) until a q304-style vacuum retires them.
  *
  * Protocol (the Delta/Iceberg optimistic loop on plain parquet):
  *  1. `n = latest(fs, root)` — the base the writer reads + merges on
  *  2. write the merged data to a private attempt dir
  *  3. `commit(fs, root, n+1, attempt)` — true: marker won and the
  *     attempt was renamed into place (the atomic swap); false: ANOTHER
  *     writer committed n+1 first → a CONFLICT: the loser's merge was
  *     computed against a stale base and MUST be discarded — delete the
  *     attempt, re-read latest, re-apply the change on the new base,
  *     retry at n+2 (lost-update prevention, which q316 proves).
  *
  * Scale: markers and listings are |versions|-sized namenode metadata;
  * data versions are immutable parquet. Production formats fold the
  * manifest into the marker write itself; the two-step
  * marker-then-rename here keeps the same single-winner guarantee with
  * the reader contract "a returned writer's data dir is in place". */
private[graft] object VersionChain {
  def dataPath(root: String, v: Int): String = f"$root/v$v%05d"

  private def marker(root: String, v: Int): Path = new Path(f"$root/v$v%05d.commit")

  /** Highest committed version, or None for an empty chain. */
  def latest(fs: FileSystem, root: String): Option[Int] = {
    val r = new Path(root)
    if (!fs.exists(r)) None
    else {
      val vs = fs.listStatus(r).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".commit"))
        .map(n => n.stripPrefix("v").stripSuffix(".commit").toInt)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Atomic compare-and-swap on the chain head: wins iff no other
    * writer has committed `v` yet; the winner's staged attempt is
    * renamed to the version path. On false the caller owns cleanup of
    * its attempt (and must rebase before retrying). */
  def commit(fs: FileSystem, root: String, v: Int, attemptDir: String): Boolean = {
    fs.mkdirs(new Path(root))
    claimRename(fs, marker(root, v), new Path(attemptDir), new Path(dataPath(root, v)),
      release = false)(true)
  }

  /** The exclusive claim + publish rename both the chain and
    * [[Artifact]] publish through: an exclusive create of `marker`
    * decides the one winner, which renames `from` to `to` when `ready` (evaluated
    * under the claim) says so. `release` deletes the marker afterwards
    * — for a lock, not for a chain's permanent commit record. Returns
    * whether this caller won the claim. */
  private[sources] def claimRename(fs: FileSystem, marker: Path, from: Path, to: Path,
      release: Boolean)(ready: => Boolean): Boolean = {
    val won = createExclusive(fs, marker)
    if (won) {
      try {
        if (ready) require(fs.rename(from, to), s"winner's publish rename failed: $from -> $to")
      } finally if (release) fs.delete(marker, false)
    }
    won
  }

  /** Exclusive create: HDFS's `create(overwrite = false)` is
    * namenode-atomic, but the local filesystem's is check-then-create,
    * so two threads can both "create" one file; there the claim uses
    * an O_EXCL create instead. */
  private def createExclusive(fs: FileSystem, marker: Path): Boolean =
    try {
      if (fs.getScheme != "file") fs.createNewFile(marker)
      else {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(fs.makeQualified(marker).toUri))
        true
      }
    } catch { case _: java.io.IOException => false }
}
