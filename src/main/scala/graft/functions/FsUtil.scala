package graft.functions

/** Tiny local-filesystem helpers shared by the artifact-maintenance
  * paths (DedupClusters' staged-swap retirement, the artifact stores'
  * relation rewrites and writer locks) and the content stamp that keys
  * engine state (the `Tables` schema catalog, artifact tags). Local `java.io.File` only — the write-once
  * artifacts live under the system tmpdir by design; a distributed
  * deployment retires artifact dirs through its object store's own
  * API instead. */
private[graft] object FsUtil {

  /** Recursive delete; silently no-ops on a missing path (idempotent —
    * callers use it to clear a possibly-absent staging/retired dir). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Single-writer guard for artifact maintenance, backed by an OS
    * advisory file lock (`FileChannel.tryLock` on `_writer.lock` under
    * the artifact root). The round-12 pid-file protocol detected dead
    * holders by reading `/proc/<pid>` and stole by delete+recreate —
    * which had a real exclusion hole (two stealers could both observe
    * the dead holder, both delete, and both acquire; round-12 ADVICE
    * finding #2) plus a theoretical pid-reuse misfire. The kernel lock
    * closes both for free:
    *
    *   - acquisition is atomic across processes (the OS arbitrates);
    *   - a crashed holder's lock releases AUTOMATICALLY with its
    *     process — no dead-pid detection, no steal path, no pid reuse;
    *   - another thread of the SAME JVM surfaces as
    *     OverlappingFileLockException — refused identically.
    *
    * REENTRANT for the holding thread: a nested call on the same root
    * (normalized absolute path) from the thread that holds it runs its
    * body directly, and the OS lock stays held until the OUTERMOST call
    * exits — so an artifact build under Artifacts.ensure may call the
    * store mutators (compact, compactRemoved) that lock the same root.
    * Any other thread or process is still refused. Store mutators lock
    * the store ROOT while CompactStore locks the relation SUBDIR —
    * distinct roots, each held independently.
    *
    * The lock FILE persists across acquisitions (deleting it would
    * reopen the classic unlink race: a late acquirer locks the removed
    * inode while a fresh one locks its replacement, and both "hold") —
    * so a build under the lock never overwrites the root dir itself.
    * Its content is the holder's pid — diagnostics only, truncated on
    * release, never consulted for exclusion. A contended acquire fails
    * LOUD ([[WriterLockHeld]]) instead of corrupting the artifact. The
    * streaming maintainers' foreachBatch bodies reach this through the
    * store mutators they call; a Structured Streaming query is
    * single-writer by construction, so the lock only guards them
    * against a concurrent BATCH mutator. Advisory-lock semantics are
    * local-FS / NFSv4; an object-store deployment swaps in its
    * conditional-put primitive. */
  def withWriterLock[T](artifactRoot: String)(body: => T): T = {
    val dir = new java.io.File(artifactRoot)
    val key = dir.toPath.toAbsolutePath.normalize.toString
    if (holders.get(key) eq Thread.currentThread()) return body
    dir.mkdirs(): Unit
    val lock = new java.io.File(dir, "_writer.lock")
    val ch = java.nio.channels.FileChannel.open(lock.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held =
      try ch.tryLock()
      catch {
        case _: java.nio.channels.OverlappingFileLockException =>
          null // this JVM already holds it (another thread)
      }
    if (held == null) {
      val holder =
        try java.nio.file.Files.readString(lock.toPath).trim
        catch { case _: java.io.IOException => "" }
      ch.close()
      throw new WriterLockHeld(
        s"another maintenance writer holds $lock" +
          (if (holder.nonEmpty) s" (pid $holder)" else "") +
          " — artifact mutation is single-writer; wait for it to finish" +
          " (a crashed holder's lock releases with its process)")
    }
    holders.put(key, Thread.currentThread())
    try {
      // stamp the holder pid for diagnostics (the refusal message above)
      ch.truncate(0): Unit
      ch.write(java.nio.ByteBuffer.wrap(
        s"${ProcessHandle.current().pid()}\n".getBytes("UTF-8"))): Unit
      ch.force(false)
      body
    } finally {
      holders.remove(key)
      // clear the stamp BEFORE releasing so no released lock file ever
      // names a pid (a stale stamp would implicate a live-but-unrelated
      // process in a later refusal message)
      try { ch.truncate(0): Unit } catch { case _: java.io.IOException => () }
      held.release()
      ch.close()
    }
  }

  /** The thread holding each root's writer lock in this JVM (set only
    * while the OS lock is held) — what makes [[withWriterLock]]
    * reentrant for its holder and nobody else. */
  private val holders =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** [[withWriterLock]]'s refusal: another thread or process holds the
    * root's lock. */
  final class WriterLockHeld(msg: String) extends IllegalStateException(msg)

  /** [[withWriterLock]] with a bounded WAIT instead of an immediate
    * refusal — for heal-on-read paths where the competing holder is
    * another healer (or a live compaction writer) that will finish
    * momentarily, and for Artifacts.ensure's builds. Only a refused
    * acquisition is retried; a failure of the body itself propagates. */
  def withWriterLockWait[T](artifactRoot: String,
                            maxWaitMs: Long = 60000)(body: => T): T = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var last: Option[WriterLockHeld] = None
    while (System.currentTimeMillis() < deadline) {
      try return withWriterLock(artifactRoot)(body)
      catch {
        case e: WriterLockHeld =>
          last = Some(e); Thread.sleep(100)
      }
    }
    throw last.getOrElse(new WriterLockHeld(
      s"timed out waiting for the writer lock on $artifactRoot"))
  }

  /** md5 over the sorted (relative-name, byte-size, mtime-ms) listing of
    * a fixture dir — proves two sweeps claiming the same fixture saw the
    * same data. The mtime term closes the round-11 advice gap: a fixture
    * regenerated in place whose files keep identical sizes (plausible for
    * fixed-width/seeded generators) still changes the manifest, so every
    * content-keyed artifact tag (`Artifacts.dirTag`) invalidates. A path
    * that is a single file hashes that file's own line, so a table stored
    * as one file (every fixture table) is stamped by its own bytes.
    *
    * Error handling is the caller's choice: `strict = true` (the dirTag
    * artifact-keying path and the Tables schema catalog) PROPAGATES IO
    * errors, a directory that cannot be listed included — a transient
    * listing failure must never collapse two different corpora onto one
    * shared tag and silently serve stale artifacts; `strict = false` (the
    * bench provenance stamp) folds the failure into a per-error string so
    * a diagnostic field can't abort a sweep, but two different failures
    * still stamp differently. */
  def manifest(path: String, strict: Boolean = false): String = {
    def children(f: java.io.File): Seq[java.io.File] = f.listFiles() match {
      case null if strict && f.isDirectory =>
        throw new java.io.IOException(s"cannot list $f")
      case null => Seq.empty
      case fs => fs.sortBy(_.getName).toSeq
    }
    def walk(f: java.io.File, prefix: String): Seq[String] =
      if (f.isDirectory)
        children(f).flatMap(c => walk(c, s"$prefix${f.getName}/"))
      else Seq(s"$prefix${f.getName}:${f.length}:${f.lastModified}")
    try {
      val root = new java.io.File(path)
      val lines = (if (root.isFile) walk(root, "")
        else children(root).flatMap(walk(_, ""))).mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
    } catch {
      case e: Throwable if !strict =>
        s"unavailable:${e.getClass.getSimpleName}:" +
          Option(e.getMessage).getOrElse("").take(80)
      case e: Throwable => throw e
    }
  }
}
