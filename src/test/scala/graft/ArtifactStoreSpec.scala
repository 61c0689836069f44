package graft

import graft.core.ArtifactStore
import org.scalatest.funsuite.AnyFunSuite

/** Pointer semantics of the versioned artifact store — no Spark needed:
  * unbuilt detection, publish-then-flip atomicity surface, cross-call
  * build-once, and old-version survival after republish.
  */
class ArtifactStoreSpec extends AnyFunSuite {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("store").toString + "/artifact"

  test("current: missing dir, missing pointer, dangling pointer are all unbuilt") {
    val dir = freshDir()
    assert(ArtifactStore.current(dir).isEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    assert(ArtifactStore.current(dir).isEmpty)
    // a pointer naming a version that does not exist must not resolve
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "CURRENT"), "v_gone")
    assert(ArtifactStore.current(dir).isEmpty)
  }

  test("publish flips the pointer; republish leaves the old version on disk") {
    val dir = freshDir()
    val v1 = ArtifactStore.publish(dir) { target =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(target, "a"), "1")
    }
    assert(ArtifactStore.current(dir).contains(v1))
    val v2 = ArtifactStore.publish(dir) { target =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(target, "a"), "2")
    }
    assert(v2 !== v1)
    assert(ArtifactStore.current(dir).contains(v2))
    // a reader that resolved v1 before the flip still has intact files
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(v1, "a")) === "1")
  }

  test("ensure builds exactly once across calls") {
    val dir = freshDir()
    var builds = 0
    def build(target: String): Unit = {
      builds += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
    }
    val p1 = ArtifactStore.ensure(dir)(build)
    val p2 = ArtifactStore.ensure(dir)(build)
    assert(builds === 1 && p1 === p2)
  }

  test("a failed build leaves the artifact unbuilt — no half-published version") {
    val dir = freshDir()
    intercept[RuntimeException] {
      ArtifactStore.publish(dir) { _ => throw new RuntimeException("build died") }
    }
    assert(ArtifactStore.current(dir).isEmpty,
      "pointer must not move when the build throws")
  }

  test("appendVersion carries live files forward; a failed delta strands no debris") {
    val dir = freshDir()
    def put(target: String, name: String, body: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(target, name), body)
    }
    val v1 = ArtifactStore.publish(dir)(put(_, "part-base", "base"))
    val v2 = ArtifactStore.appendVersion(dir)(put(_, "part-delta", "delta"))
    assert(v2 !== v1)
    assert(ArtifactStore.current(dir).contains(v2))
    // new version = carried-forward base + delta; old version untouched
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(v2, "part-base")) === "base")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(v2, "part-delta")) === "delta")
    assert(ArtifactStore.dataFileCount(v1) === 1,
      "pre-append snapshot must be immutable")

    // a delta job that dies mid-write must leave the live pointer (and
    // the live dir) exactly as they were — its partial files live in an
    // unreferenced version dir
    intercept[RuntimeException] {
      ArtifactStore.appendVersion(dir) { target =>
        put(target, "part-halfdelta", "partial")
        throw new RuntimeException("delta died")
      }
    }
    assert(ArtifactStore.current(dir).contains(v2),
      "pointer must not move when the delta write throws")
    assert(ArtifactStore.dataFileCount(v2) === 2,
      "live version must not absorb a failed delta's files")
  }

  test("appendVersion carries a partitioned/nested layout forward intact") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    val v1 = ArtifactStore.publish(dir) { t =>
      Files.createDirectories(Paths.get(t, "part=1"))
      Files.writeString(Paths.get(t, "part=1", "file-a"), "a1")
      Files.writeString(Paths.get(t, "_SUCCESS"), "")
    }
    val v2 = ArtifactStore.appendVersion(dir) { t =>
      Files.createDirectories(Paths.get(t, "part=2"))
      Files.writeString(Paths.get(t, "part=2", "file-b"), "b2")
    }
    assert(Files.readString(Paths.get(v2, "part=1", "file-a")) === "a1",
      "nested data files must be carried forward, not silently dropped")
    assert(Files.readString(Paths.get(v2, "part=2", "file-b")) === "b2")
    assert(!Files.exists(Paths.get(v2, "_SUCCESS")),
      "writer metadata is not data — not carried forward")
    assert(Files.readString(Paths.get(v1, "part=1", "file-a")) === "a1",
      "pre-append snapshot must be immutable")
    assert((ArtifactStore.dataFileCount(v1), ArtifactStore.dataFileCount(v2)) === ((1, 2)),
      "the file count descends into partition dirs and skips writer metadata")
  }

  test("rewriteOrKeep: an under-lock check that finds the version compact publishes nothing") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    def put(target: String, name: String): Unit = {
      Files.createDirectories(Paths.get(target))
      Files.writeString(Paths.get(target, name), name)
    }
    ArtifactStore.publish(dir)(put(_, "part-0"))
    val live = ArtifactStore.appendVersion(dir)(put(_, "part-1"))
    val log = Files.readString(Paths.get(dir, "VERSIONS"))
    var writes = 0
    val kept = ArtifactStore.rewriteOrKeep(dir) { cur =>
      assert(cur.contains(live), "the step must see the version current under the lock")
      if (ArtifactStore.dataFileCount(cur.get) <= 2) None
      else Some { t => writes += 1; put(t, "part-all") }
    }
    assert(kept === live && writes === 0)
    assert(ArtifactStore.current(dir).contains(live), "CURRENT must not move")
    assert(Files.readString(Paths.get(dir, "VERSIONS")) === log,
      "a kept version must not append to the publication log")
  }

  test("rewriteOrKeep: a writer that throws leaves CURRENT unchanged and reclaims nothing") {
    import java.nio.file.{Files, Paths}
    val dir = freshDir()
    // five published generations: a vacuum after the rewrite would
    // reclaim the two oldest (keep = 2 besides CURRENT)
    val versions = (0 until 5).map { i =>
      ArtifactStore.publish(dir) { t =>
        Files.createDirectories(Paths.get(t))
        Files.writeString(Paths.get(t, s"gen$i"), "x")
      }
    }
    intercept[RuntimeException] {
      ArtifactStore.rewriteOrKeep(dir) { _ =>
        Some { t =>
          Files.createDirectories(Paths.get(t))
          Files.writeString(Paths.get(t, "part-half"), "partial")
          throw new RuntimeException("rewrite died")
        }
      }
    }
    assert(ArtifactStore.current(dir).contains(versions.last),
      "pointer must not move when the rewrite throws")
    assert(versions.forall(v => Files.isDirectory(Paths.get(v))),
      "a failed rewrite must not run the vacuum")
  }

  test("gcVersions honors retention for pre-log versions (upgrade path)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = freshDir()
    def put(target: String, body: String): Unit = {
      Files.createDirectories(Paths.get(target))
      Files.writeString(Paths.get(target, "part-a"), body)
    }
    val vs = (1 to 4).map { i =>
      val v = ArtifactStore.publish(dir)(put(_, s"gen$i"))
      Thread.sleep(5)
      v
    }
    // simulate a warehouse published by pre-VERSIONS-log code: no log,
    // every version dir well past the debris grace window
    Files.delete(Paths.get(dir, "VERSIONS"))
    vs.zipWithIndex.foreach { case (v, i) =>
      Files.setLastModifiedTime(Paths.get(v),
        FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000 + i * 2000))
    }
    val deleted = ArtifactStore.gcVersions(dir, keep = 2)
    // the keep=2 retention promise must hold for unlogged history too:
    // CURRENT (v4) + the two newest others (v3, v2) survive, only v1
    // is reclaimed — NOT everything-past-the-grace-window
    assert(deleted.toSet === Set(vs(0)))
    assert(Files.isDirectory(Paths.get(vs(1))), "retention slot 2 (pre-log)")
    assert(Files.isDirectory(Paths.get(vs(2))), "retention slot 1 (pre-log)")
    assert(ArtifactStore.current(dir).contains(vs(3)))
    // the seeded history is made durable: the rewritten log carries the
    // surviving pre-log versions so the next GC needs no re-seeding
    val relogged = Files.readAllLines(Paths.get(dir, "VERSIONS"))
    assert(relogged.contains(Paths.get(vs(1)).getFileName.toString))
    assert(relogged.contains(Paths.get(vs(2)).getFileName.toString))
  }

  test("gcVersions reclaims superseded versions, keeps CURRENT + retention window") {
    val dir = freshDir()
    def put(target: String, body: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(target))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(target, "part-a"), body)
    }
    val vs = (1 to 5).map { i =>
      val v = ArtifactStore.publish(dir)(put(_, s"gen$i"))
      Thread.sleep(5) // distinct mtimes for the retention ordering
      v
    }
    // a crashed mutation's debris: an unreferenced version dir, NEWER
    // than everything published — it must neither consume a retention
    // slot nor be reclaimed inside its grace window (it may be a
    // concurrent publish mid-write)
    val debris = java.nio.file.Paths.get(dir, "v_debris000000")
    java.nio.file.Files.createDirectories(debris)

    val deleted = ArtifactStore.gcVersions(dir, keep = 2)
    // CURRENT target (v5) + the 2 newest PUBLISHED others (v4, v3)
    // survive; fresh debris survives its grace window
    assert(ArtifactStore.current(dir).contains(vs(4)))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(vs(3))))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(vs(2))))
    assert(java.nio.file.Files.isDirectory(debris),
      "fresh debris may be a concurrent publish mid-write — grace window")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(vs(0))))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(vs(1))))
    assert(deleted.toSet === Set(vs(0), vs(1)))
    // linked data files shared with surviving versions are untouched:
    // the live version still reads its own content
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(vs(4), "part-a")) === "gen5")

    // past its grace window the same debris IS reclaimed — and still
    // without touching the published retention window
    java.nio.file.Files.setLastModifiedTime(debris,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000))
    val deleted2 = ArtifactStore.gcVersions(dir, keep = 2)
    assert(deleted2.toSet === Set(debris.toString))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(vs(2))),
      "reclaiming debris must not consume a published retention slot")
  }

  test("vacuumAll sweeps every artifact of a dataset without a compaction") {
    import java.nio.file.{Files, Paths}
    val warehouse = Files.createTempDirectory("vacuum-wh").toString
    val prev = sys.props.get("graft.warehouse")
    sys.props("graft.warehouse") = warehouse
    try {
      def put(target: String, body: String): Unit = {
        Files.createDirectories(Paths.get(target))
        Files.writeString(Paths.get(target, "part-a"), body)
      }
      val dsA = "/tmp/vacuumall-ds-a"
      val dsB = "/tmp/vacuumall-ds-b"
      // two artifacts of dataset A, append-only (never compacted), and
      // one artifact of dataset B that must stay untouched
      val a1 = ArtifactStore.artifactDir("v10_assign", dsA, "t1")
      val a2 = ArtifactStore.artifactDir("v12_codes", dsA, "t1")
      val b1 = ArtifactStore.artifactDir("v10_assign", dsB, "t1")
      val versions = Map(a1 -> 5, a2 -> 4, b1 -> 4).map { case (dir, n) =>
        dir -> (1 to n).map { i =>
          val v = ArtifactStore.publish(dir)(put(_, s"gen$i")); Thread.sleep(5); v
        }
      }
      val swept = ArtifactStore.vacuumAll(dsA, keep = 2)
      // both A artifacts swept: CURRENT + 2 newest others survive
      assert(swept.reclaimed.size === 2)
      assert(swept.skipped.isEmpty)
      assert(swept.reclaimed(Paths.get(a1).getFileName.toString).toSet ===
        Set(versions(a1)(0), versions(a1)(1)))
      assert(swept.reclaimed(Paths.get(a2).getFileName.toString).toSet ===
        Set(versions(a2)(0)))
      versions(a1).drop(2).foreach(v => assert(Files.isDirectory(Paths.get(v))))
      // dataset B untouched — retention is per-dataset, not warehouse-wide
      versions(b1).foreach(v => assert(Files.isDirectory(Paths.get(v))))
    } finally {
      prev match {
        case Some(p) => sys.props("graft.warehouse") = p
        case None => sys.props.remove("graft.warehouse")
      }
    }
  }

  test("vacuumAll skips (not throws) an artifact whose lock a sibling thread holds") {
    import java.nio.file.{Files, Paths}
    val warehouse = Files.createTempDirectory("vacuum-skip-wh").toString
    val prev = sys.props.get("graft.warehouse")
    sys.props("graft.warehouse") = warehouse
    try {
      def put(target: String, body: String): Unit = {
        Files.createDirectories(Paths.get(target))
        Files.writeString(Paths.get(target, "part-a"), body)
      }
      val ds = "/tmp/vacuumall-ds-held"
      val locked = ArtifactStore.artifactDir("v10_assign", ds, "t1")
      val free = ArtifactStore.artifactDir("v12_codes", ds, "t1")
      for (dir <- Seq(locked, free); i <- 1 to 4) {
        ArtifactStore.publish(dir)(put(_, s"gen$i")); Thread.sleep(5)
      }
      // a sibling thread inside a maintenance op on `locked` — the OS
      // file lock is JVM-wide and NOT reentrant, so the sweep's lock
      // attempt raises OverlappingFileLockException there
      val acquired = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() => ArtifactStore.withMaintenanceLock(locked) {
        acquired.countDown(); release.await()
      })
      holder.start()
      assert(acquired.await(10, java.util.concurrent.TimeUnit.SECONDS))
      try {
        val swept = ArtifactStore.vacuumAll(ds, keep = 2)
        val lockedName = Paths.get(locked).getFileName.toString
        val freeName = Paths.get(free).getFileName.toString
        // the skip is OBSERVABLE: the held artifact is reported in
        // `skipped` (not silently mapped to an empty reclaim list)
        assert(swept.skipped === Seq(lockedName))
        assert(!swept.reclaimed.contains(lockedName))
        assert(swept.reclaimed(freeName).nonEmpty, "unheld sibling must still be swept")
      } finally { release.countDown(); holder.join() }
      // the next sweep (lock released) reclaims what the first skipped
      val again = ArtifactStore.vacuumAll(ds, keep = 2)
      assert(again.skipped.isEmpty)
      assert(again.reclaimed(Paths.get(locked).getFileName.toString).nonEmpty)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.warehouse") = p
        case None => sys.props.remove("graft.warehouse")
      }
    }
  }

  test("maintenance lock excludes ANOTHER JVM for the duration of its hold") {
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val child = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.tools.LockHolder", dir, "1500")
      .redirectErrorStream(true).start()
    try {
      // wait for the child to SIGNAL acquisition (marker written while
      // holding the lock), then contend from this JVM
      val held = java.nio.file.Paths.get(dir, "held")
      val t0 = System.nanoTime()
      while (!java.nio.file.Files.exists(held) &&
          (System.nanoTime() - t0) < 30e9.toLong) Thread.sleep(20)
      assert(java.nio.file.Files.exists(held),
        "child JVM never acquired the maintenance lock")
      val tAcq = System.nanoTime()
      ArtifactStore.withMaintenanceLock(dir)(())
      val waitedMs = (System.nanoTime() - tAcq) / 1e6
      assert(waitedMs >= 500,
        s"this JVM entered the lock after only ${waitedMs}ms while the " +
          "child held it for 1500ms — the lock does not exclude processes")
    } finally child.waitFor()
  }

  test("ensure's first build waits on the maintenance lock and re-checks CURRENT under it") {
    val dir = freshDir()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val child = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.tools.LockHolder", dir, "1500")
      .redirectErrorStream(true).start()
    try {
      val held = java.nio.file.Paths.get(dir, "held")
      val t0 = System.nanoTime()
      while (!java.nio.file.Files.exists(held) &&
          (System.nanoTime() - t0) < 30e9.toLong) Thread.sleep(20)
      assert(java.nio.file.Files.exists(held))
      // ensure() from a background thread: CURRENT is absent, so the
      // build path must BLOCK on the child's lock instead of racing a
      // publish over whatever the lock holder is doing
      val built = new java.util.concurrent.atomic.AtomicBoolean(false)
      val result = new java.util.concurrent.CompletableFuture[String]()
      new Thread(() =>
        try result.complete(ArtifactStore.ensure(dir) { t =>
          built.set(true)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
        }) catch { case e: Throwable => result.completeExceptionally(e) }
      ).start()
      // while ensure waits, "another process" completes the build
      // (publish itself is lock-free — the version flip is atomic)
      Thread.sleep(300)
      val v1 = ArtifactStore.publish(dir) { t =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
      }
      val got = result.get(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(got === v1,
        "ensure must adopt the version published while it waited")
      assert(!built.get,
        "ensure must NOT run its own build after the under-lock re-check " +
          "finds CURRENT — a duplicate publish could overwrite appended deltas")
    } finally child.waitFor()
  }

  test("ensure on a BUILT artifact inside a same-JVM maintenance hold does not re-lock") {
    val dir = freshDir()
    val v1 = ArtifactStore.ensure(dir) { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    }
    // the maintenance-op pattern: ensure first, then mutate under the
    // lock — code inside the hold may call ensure again (e.g. a shared
    // read path); with CURRENT present it must resolve WITHOUT touching
    // the non-reentrant file lock (an overlap would throw)
    val got = ArtifactStore.withMaintenanceLock(dir) {
      ArtifactStore.ensure(dir)(_ => fail("built artifact must not rebuild"))
    }
    assert(got === v1)
  }

  test("withMaintenanceLock serializes mutations across lock scopes") {
    val dir = freshDir()
    // sequential re-acquisition must work (lock released both times)
    val a = ArtifactStore.withMaintenanceLock(dir)(1)
    val b = ArtifactStore.withMaintenanceLock(dir)(2)
    assert(a + b === 3)
    // the lockfile must not read as a data file or a version
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    assert(ArtifactStore.current(dir).isEmpty)
  }
}
