package graft.fixtures

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Concurrency-safe fixture generation (ADVICE r3: two sessions racing
  * read-check-generate could interleave Overwrite writes and leave a reader
  * on a partially-rewritten directory).
  *
  * Two primitives:
  *  - [[ensureAtomic]]: the target directory NAME encodes the generation
  *    key (version + row count), so existence == validity. Racing
  *    generators each write a private temp dir next to the target; exactly
  *    one atomic rename(2) publishes, losers delete their temp. A reader
  *    can only ever observe a fully-written directory.
  *  - [[withProcessLock]]: cross-process file lock for fixtures whose
  *    on-disk layout can't move to versioned names (ClipGen's mtime-ordered
  *    partitioned slices) — serializes the whole check-generate-mark block
  *    across JVMs, and via a JVM-wide monitor across threads (FileLock is
  *    per-JVM and throws OverlappingFileLockException on re-entry).
  */
object FixtureDirs {

  /** The one root of every generated fixture (clips, updates, media
    * tables, the IVF index): `data/` under the working directory, the
    * repo root under sbt, so each checkout reads and writes its own. */
  val dataRoot: Path = Paths.get("data").toAbsolutePath

  /** Generate-once with atomic publish. `write` receives a temp path and
    * must produce the complete directory there. Returns the target path.
    * A generator that CRASHES mid-write leaves an orphan `.tmp-*` dir;
    * orphans are never adopted (only a completed write renames) and are
    * not swept here — a live racer's temp is indistinguishable from an
    * orphan without an age heuristic, and fixture payloads are small. */
  def ensureAtomic(parent: Path, targetName: String)(write: String => Unit): String = {
    val target = parent.resolve(targetName)
    if (!Files.exists(target)) {
      Files.createDirectories(parent)
      val tmp = Files.createTempDirectory(parent, s".tmp-$targetName-")
      write(tmp.toString)
      try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // A concurrent generator won the rename: their output is
          // byte-identical (deterministic generation), so drop ours.
          if (Files.exists(target)) deleteRecursively(tmp) else throw e
      }
    }
    target.toString
  }

  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding an exclusive lock on `<dir>/.gen_lock`, serialized
    * both across processes (flock) and across threads of this JVM. */
  def withProcessLock[A](dir: Path)(body: => A): A = {
    Files.createDirectories(dir)
    val lockPath = dir.resolve(".gen_lock")
    val monitor = jvmLocks.computeIfAbsent(lockPath.toString, _ => new Object)
    monitor.synchronized {
      val ch = FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRecursively(c)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
