package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.catalog.RestRegistry

/** The four r19 ADVICE coherence fixes on the REST registry: known-
  * cache invalidation on external registry change, the ensure()
  * creation window, overlapping-lock handling, and monotonic-mtime
  * rewrites for the listing cache's (size, mtime) fingerprint. */
class RestRegistryCoherenceSpec extends AnyFunSuite with Matchers {

  private def freshWh(): java.nio.file.Path = {
    val wh = TestDirs.create("graft-reg-coh-")
    def mkNs(levels: String*): Unit = {
      val d = levels.foldLeft(wh)(_.resolve(_))
      Files.createDirectories(d)
      Files.writeString(d.resolve("_namespace.json"), "{}")
    }
    mkNs("nsa")
    wh
  }

  private def mkTable(wh: java.nio.file.Path, rel: String): Unit = {
    val d = wh.resolve(rel).resolve("metadata")
    Files.createDirectories(d)
    Files.writeString(d.resolve("version-hint.text"), "1")
  }

  test("an EXTERNAL registry rewrite invalidates the known cache: " +
    "drop-by-peer then recreate re-registers") {
    RestRegistry.clearKnownForTesting()
    val wh = freshWh()
    val reg = RestRegistry.registryFile(wh)
    Files.writeString(reg, "") // registry exists (as the REST service leaves it)
    mkTable(wh, "nsa/t1")
    RestRegistry.maybeRegister(wh.resolve("nsa/t1"))
    RestRegistry.readEntries(wh).get should contain("nsa/t1")
    // another PROCESS drops the table: its line vanishes but THIS
    // JVM's known cache still holds it. Simulate with a direct rewrite
    // (unregister() would clear our own cache). Backdate mtime so even
    // a fingerprint-identical-window rewrite is visible.
    Files.writeString(reg, "")
    Files.setLastModifiedTime(reg,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60000))
    // this JVM recreates the same table path and commits again — the
    // old code's known.contains short-circuited here forever
    RestRegistry.maybeRegister(wh.resolve("nsa/t1"))
    RestRegistry.readEntries(wh).get should contain("nsa/t1")
  }

  test("ensure() closes the creation window: a table committed after " +
    "the first walk is caught by the post-creation walk") {
    RestRegistry.clearKnownForTesting()
    val wh = freshWh()
    mkTable(wh, "nsa/t1")
    var calls = 0
    val got = RestRegistry.ensure(wh, () => {
      calls += 1
      if (calls == 1) {
        // a write-once table lands AFTER this walk has passed it and
        // BEFORE the registry file exists — invisible to maybeRegister
        // (no registry yet) and to this walk
        mkTable(wh, "nsa/t_during")
        Seq("nsa/t1")
      } else Seq("nsa/t1", "nsa/t_during") // the second walk sees it
    })
    calls shouldBe 2
    got.get should contain allOf ("nsa/t1", "nsa/t_during")
    RestRegistry.readEntries(wh).get should contain("nsa/t_during")
  }

  test("ensure() on an EXISTING registry never walks") {
    RestRegistry.clearKnownForTesting()
    val wh = freshWh()
    Files.writeString(RestRegistry.registryFile(wh), "nsa/t1")
    var calls = 0
    val got = RestRegistry.ensure(wh, () => { calls += 1; Seq("x") })
    calls shouldBe 0
    got.get shouldBe Set("nsa/t1")
  }

  test("a held file lock means SKIP (retried next commit), never an " +
    "unlocked rewrite") {
    RestRegistry.clearKnownForTesting()
    val wh = freshWh()
    val reg = RestRegistry.registryFile(wh)
    Files.writeString(reg, "nsa/t0")
    mkTable(wh, "nsa/t1")
    // hold the registry lock from a SEPARATE channel in this JVM: the
    // registration's own tryLock now throws OverlappingFileLock-
    // Exception — the old handler treated that as "fs can't lock" and
    // proceeded with an unlocked read-modify-rewrite
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val ch = java.nio.channels.FileChannel.open(
      wh.resolve("_rest_tables.lock"), CREATE, WRITE)
    val held = ch.lock()
    try {
      RestRegistry.maybeRegister(wh.resolve("nsa/t1"))
      // skipped, not silently written: the registry is untouched
      RestRegistry.readEntries(wh).get shouldBe Set("nsa/t0")
    } finally { held.release(); ch.close() }
    // next commit retries and succeeds (the skip never marked `known`)
    RestRegistry.maybeRegister(wh.resolve("nsa/t1"))
    RestRegistry.readEntries(wh).get shouldBe Set("nsa/t0", "nsa/t1")
  }

  test("rewrites keep the registry mtime strictly monotonic even when " +
    "the clock has not advanced (listing-cache fingerprint safety)") {
    RestRegistry.clearKnownForTesting()
    val wh = freshWh()
    val reg = RestRegistry.registryFile(wh)
    Files.writeString(reg, "nsa/t1\nnsa/t2")
    // pin the file's mtime in the FUTURE: any rewrite stamps an older
    // clock value, which on a coarse-granularity store is how two
    // writes land inside one mtime quantum
    val future = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 3600000)
    Files.setLastModifiedTime(reg, future)
    RestRegistry.unregister(wh, "nsa/t2")
    val after = Files.getLastModifiedTime(reg)
    after.compareTo(future) should be > 0
  }
}
