package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Deterministic cache tag for a derived physical layout (bucketed copy,
  * date-partitioned copy) of `$dir/$src.parquet`. Two-part tag
  * `<dirScope>_<stamp>`: the dir-path hash scopes the tag family (so
  * sweeps of one fixture dir can never touch another dir's layouts — the
  * sf0.01 Verify JVM and the sf0.1 Bench JVM run in the same round, each
  * with a VALID layout), and the source file's (mtime, size) stamp makes
  * a regenerated fixture at the same path mint a new tag, so layout
  * caches self-invalidate instead of silently serving stale data to a
  * fresh oracle.
  *
  * Memoized per (dir, src) for the JVM's lifetime: the stamp exists for
  * CROSS-JVM invalidation; re-reading it mid-session buys nothing (the
  * session's results already came from the old files) and a concurrent
  * fixture touch would otherwise change the tag between bench iterations
  * — forcing a full layout rebuild inside a TIMED run (the r5 q27
  * regression: the driver's 3.373 s is one lineitem bucket-build, 3.37 s
  * measured, landing in a timed call that should have been a warm read).
  * So code that rewrites a fixture mid-session writes it to a fresh dir
  * (as `AnnSizingSpec` does): at the same path, later layout reads would
  * serve the pre-rewrite files. Shared by [[Bucketed]] and
  * [[PartitionedLayout]] so the keying rule cannot drift between the two
  * layout stories.
  */
private[graft] object DirTag {

  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def hex(h: Int): String =
    java.lang.Integer.toHexString(h | Int.MinValue).substring(1)

  /** Hash of the fixture directory path alone — the sweep scope. Use as
    * part of every sweep prefix: `prefix = base + dirScope(dir) + "_"`,
    * so "stale sibling" means "same source, SAME dir, older stamp".
    */
  def dirScope(dir: String): String =
    hex(scala.util.hashing.MurmurHash3.stringHash(dir))

  def apply(dir: String, src: String): String =
    memo.computeIfAbsent((dir, src), { key =>
      val (d, s) = key
      val f = java.nio.file.Paths.get(d, s + ".parquet")
      val stamp =
        try {
          val a = java.nio.file.Files.readAttributes(
            f, classOf[java.nio.file.attribute.BasicFileAttributes])
          a.lastModifiedTime.toMillis.toString + ":" + a.size
        } catch { case _: java.io.IOException => "absent" }
      dirScope(d) + "_" + hex(scala.util.hashing.MurmurHash3.stringHash(s + "|" + stamp))
    })
}

/** Cross-JVM-safe materialization of a derived layout directory.
  *
  * The layout caches are shared across JVMs through `java.io.tmpdir`, so
  * two first-callers can race: a plain `write(finalPath)` lets one JVM
  * overwrite a directory another is mid-read on. Instead the producer
  * writes to a unique temp sibling and ATOMIC_MOVEs it into place —
  * readers only ever see absent or complete directories, and the losing
  * racer just deletes its temp copy.
  *
  * Stale-tag sweep: DirTag keys on (mtime, size), so every fixture
  * regeneration mints a NEW tag and the old directories would accumulate
  * under tmpdir forever. When materializing a tag, sibling directories
  * with the same `prefix` but a different tag are best-effort deleted
  * (they are stale by construction — no source file carries their stamp
  * anymore). Callers MUST pass a dir-scoped prefix ([[DirTag.dirScope]])
  * so layouts of other fixture dirs — alive in concurrent JVMs — are
  * never treated as stale.
  */
private[graft] object LayoutCache {

  /** `$tmpdir/$family/$tag`, materialized via `write(tempPath)` + atomic
    * rename iff `$tag/_SUCCESS` is absent. `prefix` is the tag-family
    * prefix used to sweep stale siblings (e.g. `events_bydate_<dirScope>_`).
    */
  def materialize(family: String, prefix: String, tag: String)(write: String => Unit): Path = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"), family)
    val path = root.resolve(tag)
    if (!Files.exists(path.resolve("_SUCCESS"))) {
      sweepStale(root, prefix, tag)
      val tmp = root.resolve(tag + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      write(tmp.toString)
      try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another JVM atomically published the same tag first — its copy
        // is equivalent by construction (same source stamp); keep theirs
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.AccessDeniedException |
             _: java.nio.file.DirectoryNotEmptyException => deleteTree(tmp)
      }
    }
    path
  }

  /** Delete sibling `prefix*` directories whose name differs from `keep`
    * (including orphaned `.tmp-*` dirs from crashed producers).
    * Best-effort: a concurrent reader of a STALE dir can lose its race,
    * but only in the same window where the fixture itself was just
    * regenerated under it — acceptable for a derived cache, where the
    * alternative is unbounded tmpdir growth.
    */
  private def sweepStale(root: Path, prefix: String, keep: String): Unit =
    if (Files.isDirectory(root)) {
      val kids = Files.list(root)
      try kids.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith(prefix) && n != keep) deleteTree(p)
      } finally kids.close()
    }

  /** Delete the tree under `p`, skipping any file that cannot be deleted:
    * a cache sweep goes on past a file another process still holds.
    */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
      finally all.close()
    }

  /** Delete the tree under `p`, throwing on the first file that cannot be
    * deleted (or that vanishes mid-walk), so a caller can tell that it
    * lost a race, as the streaming scratch sweep does.
    */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally all.close()
    }
}
