package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Durable, versioned store for built index artifacts (learned
  * centroids, code tables, bucketed/clustered copies).
  *
  * Replaces the r7 `/tmp` + per-JVM-memo discipline, whose guards were
  * process-lifetime only: a new JVM rebuilt every artifact from the raw
  * corpus, silently discarding any delta rows a previous process had
  * appended, and its `mode("overwrite")` rebuilds could delete files
  * out from under a concurrent reader (the r4 Bucketed race).
  *
  * Layout: one directory per (artifact, dataset, layout-tag); inside
  * it, immutable-by-rebuild version subdirectories plus a `CURRENT`
  * pointer file naming the live one:
  *
  * {{{
  *   <root>/v10_assign_<ds>_<dshash>_<tag>/
  *     CURRENT              # contains "v_ab12cd34"
  *     v_ab12cd34/          # immutable parquet files
  * }}}
  *
  * Invariants:
  *  - EVERY mutation — build, append, compact, delete — writes ASIDE
  *    into a fresh version dir, then flips `CURRENT` with an atomic
  *    same-directory file rename (appends carry the live files forward
  *    via [[appendVersion]]). Readers resolve `CURRENT` once and read
  *    an immutable directory — no overwrite-vs-read window, no
  *    partially visible delta batch. Superseded versions survive a
  *    reader-retention window of [[gcVersions]] generations before the
  *    vacuum reclaims them.
  *  - An existing `CURRENT` means BUILT, across processes: `ensure`
  *    never rebuilds over it, so appended delta batches survive JVM
  *    restarts (the incremental-maintenance contract is durable, not
  *    JVM-lifetime). Concurrent maintenance mutations from different
  *    processes serialize through [[withMaintenanceLock]].
  *  - The layout tag encodes the build parameters/schema (and a
  *    version counter bumped on encode-logic changes), so changed
  *    build code lands in a NEW artifact dir instead of silently
  *    reusing an incompatible old one.
  *
  * The root defaults to a warehouse directory next to the code and is
  * overridable per-process (`graft.warehouse` system property, then
  * `SPARK_GRAFT_WAREHOUSE`); on a real cluster it would be an
  * HDFS/object-store URI, where the `CURRENT` flip maps to the
  * conditional-put / commit-log primitive of the store (the simplified
  * form of a Delta/Iceberg pointer commit). Two processes racing the
  * same FIRST build serialize on the maintenance lock and the loser
  * re-checks `CURRENT` under it — so a slow duplicate build can
  * neither tear a read nor flip the pointer over a version that
  * locked maintenance has since appended to.
  *
  * Every stored index maintains itself through three calls, so the
  * lock, the under-lock re-resolve and the vacuum are written once:
  *  - [[append]] (lock + [[appendVersion]]): the kNN and stratum graphs
  *    (`Graph.appendGraph`), the lex index (`Hybrid.appendLexIndex`),
  *    the sig index (`Dedup.appendSigIndex`) and the four `Indexed`
  *    code tables (`appendCodes`);
  *  - [[compact]] (a [[rewriteOrKeep]] that re-checks fragmentation
  *    under the lock): every compaction — `Graph.compactGraph`,
  *    `Hybrid.compactLexIndex`, `Dedup.compactSigIndex` and
  *    `Indexed.compactCodes`, each passing only its fragmentation test
  *    and its rewrite;
  *  - [[rewriteOrKeep]] (lock + re-resolve + optional publish, then
  *    [[gcVersions]]): the graphs' cap-crossing self-heal rebuild, the
  *    graph-stats refresh (`Graph.ensureGraphStats`) and
  *    `Indexed.removeFromIndexes`.
  */
/** Outcome of a [[ArtifactStore.vacuumAll]] sweep: version dirs
  * reclaimed per swept artifact, and artifacts the sweep could NOT
  * inspect because a same-JVM maintenance op held their lock — an
  * empty reclaim list means "retention satisfied", a skip means
  * "retry next sweep"; conflating the two hid wedged artifacts.
  */
final case class VacuumReport(reclaimed: Map[String, Seq[String]],
    skipped: Seq[String])

object ArtifactStore {

  def root: String = new java.io.File(
    sys.props.get("graft.warehouse")
      .orElse(sys.env.get("SPARK_GRAFT_WAREHOUSE"))
      .getOrElse("/root/repo/warehouse")).getAbsolutePath
  // absolute: a relative override would resolve against the JVM cwd in
  // java.io/nio calls but against spark-warehouse/ in a table LOCATION

  /** Absolute-path hash, not basename: two distinct dirs named alike
    * (e.g. ../a/sf0.01 and ../b/sf0.01) must not share an artifact.
    */
  def absHash(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  def artifactDir(name: String, d: String, layout: String): String =
    s"$root/${name}_${new java.io.File(d).getName}_${absHash(d)}_$layout"

  /** Resolve the live version dir, or None if the artifact was never
    * (completely) built. A `CURRENT` pointing at a missing dir — e.g. a
    * manually pruned warehouse — counts as unbuilt.
    */
  def current(dir: String): Option[String] = {
    val cur = Paths.get(dir, "CURRENT")
    if (!Files.isRegularFile(cur)) None
    else {
      val v = Files.readString(cur).trim
      val p = Paths.get(dir, v)
      if (v.nonEmpty && Files.isDirectory(p)) Some(p.toString) else None
    }
  }

  /** Write a new version via `write(targetDir)` and flip `CURRENT` to
    * it. The pointer flip is a same-directory atomic rename, so readers
    * see the old complete version or the new complete version, never a
    * partial one. Returns the new version dir.
    */
  def publish(dir: String)(write: String => Unit): String = {
    val v = "v_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Files.createDirectories(Paths.get(dir))
    val target = s"$dir/$v"
    write(target)
    val tmp = Paths.get(dir, s".CURRENT.$v.tmp")
    Files.writeString(tmp, v)
    Files.move(tmp, Paths.get(dir, "CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // publication history (newest last): the vacuum's retention window
    // counts PUBLISHED generations from this log, so a crashed
    // mutation's debris dir can never consume a reader's retention
    // slot. Best-effort append — a lost log line only makes that
    // version age out via the debris grace path instead.
    try Files.writeString(Paths.get(dir, "VERSIONS"), v + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case _: java.io.IOException => () }
    target
  }

  /** The build-once guard: an existing on-disk version IS the build
    * (cross-process; no in-memory memo to lose). Per-JVM `synchronized`
    * collapses duplicate concurrent builds inside one process; the
    * first-build path ALSO takes the cross-process maintenance lock
    * and re-checks `CURRENT` under it — without that, a slow
    * concurrent first build in another process could flip `CURRENT`
    * AFTER a locked [[appendVersion]] committed on top of the fast
    * build, silently discarding the appended deltas (the lost-update
    * the lock exists to close, reopened through the build path; the
    * sig-index and knn-graph artifacts would self-heal via their
    * per-batch reconcile, but the lex index has no reconcile). Once
    * `CURRENT` exists the lock is never touched, so a maintenance op
    * that holds it may safely call `ensure` on its own (built)
    * artifact, and readers stay lock-free.
    */
  def ensure(dir: String)(build: String => Unit): String = synchronized {
    current(dir).getOrElse {
      withMaintenanceLock(dir) {
        current(dir).getOrElse(publish(dir)(build))
      }
    }
  }

  /** Cross-process mutual exclusion for maintenance mutations (append /
    * compact / delete) on one artifact: an OS file lock on a lockfile
    * inside the artifact dir. Closes the append-vs-compact lost-update
    * window between JVMs on one host — two maintenance ops that both
    * publish from the same base version would otherwise race the
    * pointer flip and the loser's rows would silently vanish. On an
    * object store this maps to the lease/lock service a table format's
    * commit protocol uses (readers still need no lock: they resolve
    * `CURRENT` once and read an immutable version dir).
    *
    * Same-JVM re-entry is the caller's job (`Indexed`'s maintenance
    * entry points hold the object monitor for the whole mutation, so
    * two threads of one process never reach the file lock
    * concurrently — an overlapping same-JVM `FileLock` would throw).
    */
  def withMaintenanceLock[T](dir: String)(f: => T): T = {
    Files.createDirectories(Paths.get(dir))
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(dir, ".maintenance.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try f finally lock.release()
    } finally ch.close()
  }

  /** Append as a PUBLISH, not an in-place write: carries the live
    * version's data files forward into a fresh version dir (hard links
    * when the filesystem allows — a metadata-only operation; copies
    * otherwise), lets `writeDelta` add the delta files beside them, and
    * flips `CURRENT` atomically. Readers therefore see the pre-append
    * table or the post-append table, never a partially committed delta
    * batch — and a failed delta job strands its debris in an
    * unreferenced version dir instead of inside the live one. Links are
    * safe because version data files are immutable: every mutation
    * (append/compact/delete) writes a NEW version and no version dir is
    * ever deleted. On an object store the same discipline is a
    * manifest/file-list commit (carry forward the old manifest entries,
    * add the delta files, commit the new manifest) — the Delta/Iceberg
    * append primitive.
    */
  def appendVersion(dir: String)(writeDelta: String => Unit): String =
    publish(dir) { target =>
      Files.createDirectories(Paths.get(target))
      current(dir).foreach(live => linkTree(Paths.get(live), Paths.get(target)))
      writeDelta(target)
    }

  /** Locked append: under the maintenance lock, publish an
    * [[appendVersion]] on top of the live version. `writeDelta` gets
    * (live version, new version dir) — the live one for meta the delta
    * carries forward, read under the same lock. Returns the new live
    * version. Appends reclaim nothing; the kind's [[compact]] or
    * [[vacuumAll]] does.
    */
  def append(dir: String)(writeDelta: (String, String) => Unit): String =
    withMaintenanceLock(dir) {
      val live = current(dir).getOrElse(
        throw new IllegalStateException(s"nothing to append to: $dir"))
      appendVersion(dir)(writeDelta(live, _))
    }

  /** Locked rewrite-or-keep: under the maintenance lock, `step` sees the
    * version that is current NOW (None if unbuilt) — a decision taken
    * before the lock is re-checked here, so two processes that both
    * saw a threshold crossed rewrite once — and returns None to keep
    * it, or the writer of a replacement version, which is published in
    * its place. [[gcVersions]] then runs outside the lock (the OS file
    * lock is not reentrant). A writer that throws leaves `CURRENT`
    * unchanged and reclaims nothing. Returns the live version.
    */
  def rewriteOrKeep(dir: String)(step: Option[String] => Option[String => Unit]): String = {
    val live = withMaintenanceLock(dir) {
      val cur = current(dir)
      step(cur) match {
        case Some(write) => publish(dir)(write)
        case None => cur.getOrElse(
          throw new IllegalStateException(s"nothing to keep: $dir"))
      }
    }
    gcVersions(dir)
    live
  }

  /** Locked compaction, the one rule every stored index compacts by (a
    * [[rewriteOrKeep]]): under the lock, the live version is re-resolved
    * (an unbuilt artifact is an error — nothing to compact); with
    * `onlyIfFragmented` (the auto-compact path, whose caller saw the
    * threshold crossed before taking the lock) it is kept unless
    * `fragmented(live)` still holds NOW, so two appenders that both saw
    * the threshold crossed rewrite once; otherwise `rewrite(live,
    * target)` writes the replacement, which is published. The GC
    * follows. Returns the live version.
    */
  def compact(dir: String, onlyIfFragmented: Boolean)(fragmented: String => Boolean)(
      rewrite: (String, String) => Unit): String =
    rewriteOrKeep(dir) { cur =>
      val live = cur.getOrElse(
        throw new IllegalStateException(s"nothing to compact: $dir"))
      if (onlyIfFragmented && !fragmented(live)) None else Some(rewrite(live, _))
    }

  /** Recursively hard-link (or copy) `src`'s data entries into `dst`,
    * recreating subdirectories — so [[appendVersion]] carries forward
    * partitioned/nested version layouts intact, not just flat ones.
    * Spark metadata (`_SUCCESS`) and dotfiles are skipped at every
    * level; partition dirs (`part=...`) don't start with either marker
    * and are descended into.
    */
  private[graft] def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val files = Files.list(src)
    try files.forEach { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("_") && !n.startsWith(".")) {
        val t = dst.resolve(n)
        if (Files.isDirectory(p)) {
          Files.createDirectories(t)
          linkTree(p, t)
        } else if (Files.isRegularFile(p)) {
          try Files.createLink(t, p)
          catch { case _: UnsupportedOperationException | _: java.io.IOException =>
            Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
          }
        }
      }
    } finally files.close()
  }

  /** Number of data files under a version dir (or one of its tables),
    * counted recursively through partition dirs with [[linkTree]]'s
    * rule: Spark metadata (`_SUCCESS`) and dotfiles (checksums, version
    * meta) are not data — every compaction trigger's measure of
    * append-history fragmentation.
    */
  def dataFileCount(versionDir: String): Int =
    Option(new java.io.File(versionDir).listFiles()).getOrElse(Array.empty)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .map(f => if (f.isDirectory) dataFileCount(f.getPath) else if (f.isFile) 1 else 0)
      .sum

  /** Garbage-collect superseded versions: delete version dirs that are
    * (a) not the `CURRENT` target and (b) not among the `keep` most
    * recently published others — the retention window for in-flight
    * readers, who resolve `CURRENT` once and then read that dir for
    * the lifetime of one job. Retention is therefore a TIME contract:
    * `keep` generations must outlast the longest-running reader (at
    * 100 TB, generations are compaction/delete epochs — hours apart —
    * while readers are queries; a snapshot older than several epochs
    * indicates a wedged job, the same staleness bound every
    * MVCC-with-vacuum store imposes). Runs under the maintenance lock
    * so it cannot race a publish; returns the deleted version dirs.
    *
    * Data files are hard-link-shared across versions by
    * [[appendVersion]], so deleting a superseded version only reclaims
    * the delta files no surviving version links — deleting a link
    * never touches the shared inode's other names.
    */
  def gcVersions(dir: String, keep: Int = 2,
      debrisGraceMs: Long = 15 * 60 * 1000L): Seq[String] = withMaintenanceLock(dir) {
    val curTarget = current(dir).map(p => Paths.get(p).getFileName.toString)
    val dirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v_"))
    val logPath = Paths.get(dir, "VERSIONS")
    val logged: Seq[String] =
      if (Files.isRegularFile(logPath))
        Files.readAllLines(logPath).toArray(Array.empty[String])
          .map(_.trim).filter(_.nonEmpty).toSeq
      else Seq.empty
    val loggedSet = logged.toSet
    // pre-log history: version dirs published before the VERSIONS log
    // existed (warehouse artifacts persist across code upgrades) have
    // no log line. Any unlogged dir OLDER than every logged publish
    // cannot be a concurrent publish mid-write — it predates the log —
    // so seed it into the published history (mtime order ≈ publish
    // order; version dirs are immutable after publish). Without this,
    // the first GC after an upgrade would reclaim dirs inside the
    // `keep` retention window via the debris grace path. Unlogged dirs
    // NEWER than the log's oldest entry — or younger than the grace
    // window — keep the grace-path treatment (they may be a concurrent
    // publish mid-write).
    val now = System.currentTimeMillis()
    val oldestLogged = dirs.filter(f => loggedSet(f.getName))
      .map(_.lastModified).minOption.getOrElse(Long.MaxValue)
    val preLog = dirs.filterNot(f => loggedSet(f.getName))
      .filter(f => f.lastModified < oldestLogged &&
        now - f.lastModified > debrisGraceMs)
      .sortBy(_.lastModified).map(_.getName).toSeq
    val published = preLog ++ logged
    val publishedSet = published.toSet
    val existing = dirs.map(_.getName).toSet
    // retention counts PUBLISHED generations (newest last in the log),
    // never debris: a crashed mutation's unreferenced dir must not
    // shrink the in-flight-reader window
    val keepSet = curTarget.toSet ++
      published.reverse.filterNot(curTarget.contains).filter(existing).take(keep)
    val victims = dirs.filterNot(f => keepSet(f.getName)).filter { f =>
      // superseded published versions go immediately; UNLOGGED dirs may
      // be a concurrent publish mid-write (builds don't take the
      // maintenance lock) — reclaim those only past a grace window
      publishedSet(f.getName) || now - f.lastModified() > debrisGraceMs
    }
    victims.foreach { v =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(v)
    }
    // prune the log to surviving versions so it stays bounded
    if (published.nonEmpty) {
      val survivors = existing -- victims.map(_.getName)
      try Files.writeString(logPath,
        published.filter(survivors).mkString("", "\n", "\n"))
      catch { case _: java.io.IOException => () }
    }
    victims.map(_.getPath).toSeq
  }

  /** Standalone retention sweep for one dataset: run [[gcVersions]]
    * over EVERY artifact dir whose name encodes dataset `d` (the
    * `_<basename>_<abshash>_` segment [[artifactDir]] writes). Closes
    * the lifecycle gap where GC ran only inside a compaction — an
    * append-only artifact that never crosses the compaction threshold
    * would otherwise accumulate superseded versions forever. Each
    * artifact is swept under its own maintenance lock; the per-artifact
    * retention contract is exactly [[gcVersions]]'s. Returns reclaimed
    * version dirs per artifact name (empty seq = nothing eligible).
    *
    * Same-process safety: `FileChannel.lock` is not reentrant across
    * threads of one JVM — if another thread is inside a maintenance op
    * on one of the swept artifacts (Indexed/Hybrid hold their own
    * object monitors, not this store's), the lock attempt throws
    * `OverlappingFileLockException` instead of blocking. That artifact
    * is SKIPPED — and reported as such in [[VacuumReport.skipped]], so
    * a caller can tell "nothing to reclaim" from "couldn't look": the
    * in-flight op's own compaction/GC covers it, and the next sweep
    * retries.
    */
  def vacuumAll(d: String, keep: Int = 2): VacuumReport = {
    val marker = s"_${new java.io.File(d).getName}_${absHash(d)}_"
    val results = Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.contains(marker))
      .map { f =>
        f.getName -> (try Right(gcVersions(f.getPath, keep)) catch {
          case _: java.nio.channels.OverlappingFileLockException => Left(())
        })
      }
    VacuumReport(
      reclaimed = results.collect { case (n, Right(v)) => n -> v }.toMap,
      skipped = results.collect { case (n, Left(_)) => n }.toSeq)
  }
}

/** The dataset whose artifacts the oracle SQL dump reads. Verify sets
  * this once at process start from its own `sfDir` argument, BEFORE
  * running any query — so every `read_parquet` path in the dumped SQL
  * is a pure function of the dataset Verify was invoked on, not of
  * whichever dataset some `ensure*` call happened to touch last (the
  * r7 cross-wiring hazard: eight independent `@volatile` path vars,
  * each tracking its own most-recent caller).
  */
object OracleDataset {
  @volatile var dir: String = "/root/testdata/sf0.01"
}
