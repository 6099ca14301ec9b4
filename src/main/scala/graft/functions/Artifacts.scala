package graft.functions

/** THE write-once fixture-artifact convention, in one place: where an
  * artifact lives, when it counts as built, and how its build is
  * serialized. Every `*_incr` / `*_persist` / `*_compact` family, the
  * shared stores (TokenStore, GramStore) and the join layouts
  * (partitioned orders, bucketed tables) name their roots here and
  * build through [[ensure]]:
  *
  *   - LAYOUT: `$tmpdir/graft_<family>/<kind>_<dirTag>` — external
  *     under the system tmpdir, keyed by the fixture's content tag, so
  *     artifacts survive across JVMs and a regenerated fixture
  *     invalidates them;
  *   - COMPLETION: each artifact's own completion files (a relation's
  *     `_SUCCESS`, the compaction proofs' [[Compacted]] marker) — a
  *     build that dies before writing them leaves the artifact unbuilt,
  *     and the next touch builds again;
  *   - SINGLE WRITER: a build runs under the root's writer lock
  *     (FsUtil.withWriterLockWait). A second caller — another thread
  *     or another JVM on the same fixture — waits, re-checks, and finds
  *     the artifact built; the steady-state hit path takes no lock.
  */
private[graft] object Artifacts {

  /** Completion marker of the build-then-compact proof artifacts; only
    * [[ensure]] writes it (after the build returns). */
  val Compacted = "compacted"

  /** Collision-resistant fixture tag for cached table/path names: md5
    * prefix of the full dir path PLUS its file manifest (relative names +
    * byte sizes + mtimes — the same listing Bench stamps as
    * `fixture.manifest`; the mtime term catches an in-place regeneration
    * whose files keep identical sizes). The path part keeps two fixture
    * dirs from reusing each other's artifacts; the CONTENT part keys
    * every write-once artifact to the data it was derived from, so
    * regenerating a fixture in place (tools/gen_sf1.py rewriting
    * its fixture) changes the tag and invalidates stale artifacts
    * automatically instead of silently serving clusters of the old
    * corpus. STRICT manifest: a listing IO error propagates — mapping
    * all failures onto one shared "unavailable" tag would alias every
    * failing fixture onto the same artifacts. Walks ~a dozen fixture
    * files per call — microseconds, and deliberately NOT memoized so an
    * in-place regeneration is caught even mid-JVM. */
  def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "\n" + FsUtil.manifest(dir, strict = true))
        .getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** The artifact root of `kind` in `family` for a fixture dir — a pure
    * function, so tooling and specs locate or wipe an artifact without
    * triggering its build. */
  def path(family: String, kind: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$family/${kind}_${dirTag(dir)}"

  /** Build-on-first-touch of the artifact at `root`: built iff every
    * `done` file (relative to root) exists. On a miss, `build(root)`
    * runs under the root's writer lock after a second check (a
    * concurrent build may have finished meanwhile); when `done` names
    * [[Compacted]], the marker is written once the build returns. The
    * lock is reentrant, so a build may call the store mutators that lock
    * the same root. Returns `root`. */
  def ensure(root: String, done: String*)(build: String => Unit): String = {
    def built = done.forall(d => new java.io.File(s"$root/$d").exists())
    if (!built)
      // a waiter sits out a whole build, not just a heal
      FsUtil.withWriterLockWait(root, maxWaitMs = 30 * 60 * 1000) {
        if (!built) {
          build(root)
          if (done.contains(Compacted))
            new java.io.File(s"$root/$Compacted").createNewFile(): Unit
        }
      }
    root
  }
}
