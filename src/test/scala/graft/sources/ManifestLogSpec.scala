package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import LogKit.ReplayMaps

/** Commit protocol + replay semantics of the manifest log — above all
  * the CONCURRENT-WRITER race: two writers publishing the same version
  * must serialize (exactly one wins, the loser conflicts and rebases),
  * which is the entire point of routing snapshots through a log instead
  * of path conventions. */
class ManifestLogSpec extends AnyFunSuite {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_mlog").toString

  test("replay folds adds and removes in commit order") {
    val root = freshRoot()
    LogKit.commit(root, 0, Seq("data/v0/a.parquet",
      "data/v0/b.parquet"), Seq.empty, "write")
    LogKit.commit(root, 1, Seq("data/v1/c.parquet"),
      Seq("data/v0/a.parquet", "data/v0/b.parquet"), "merge")
    LogKit.commit(root, 2, Seq("data/v2/d.parquet"),
      Seq("data/v1/c.parquet"), "merge")
    assert(ManifestLog.versions(root) == Seq(0L, 1L, 2L))
    assert(ManifestLog.latestVersion(root).contains(2L))
    assert(ManifestLog.filesAsOf(root, 0) ==
      Seq("data/v0/a.parquet", "data/v0/b.parquet"))
    assert(ManifestLog.filesAsOf(root, 1) == Seq("data/v1/c.parquet"))
    assert(ManifestLog.filesAsOf(root, 2) == Seq("data/v2/d.parquet"))
    // a never-committed version must fail loudly, not resolve v2
    intercept[IllegalArgumentException](ManifestLog.filesAsOf(root, 7))
  }

  test("concurrent writers racing one version: exactly one commit wins") {
    val root = freshRoot()
    LogKit.commit(root, 0, Seq("data/v0/base.parquet"), Seq.empty,
      "write")
    // many writers, one contested version, one barrier start — the
    // loser set must all see Conflict and the log must hold ONE v1
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val attempts = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            try {
              LogKit.commit(root, 1, Seq(s"data/v1/w$i.parquet"),
                Seq("data/v0/base.parquet"), "merge")
              true
            } catch { case ManifestLog.Conflict(1L) => false }
          }
        })
      }
      gate.countDown()
      val wins = attempts.map(_.get()).count(identity)
      assert(wins == 1, s"expected exactly one winning commit, got $wins")
    } finally pool.shutdown()
    assert(ManifestLog.versions(root) == Seq(0L, 1L))
    // the committed v1 is internally consistent: one writer's file set
    val v1 = ManifestLog.filesAsOf(root, 1)
    assert(v1.length == 1 && v1.head.startsWith("data/v1/w"))
    // no stage litter left behind by the losers
    val leftovers = java.nio.file.Files
      .list(java.nio.file.Paths.get(root, "_log")).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.forall(nm => nm.endsWith(".json") && !nm.startsWith(".")),
      s"stage temp files leaked: $names")
  }

  test("checkpoint: tail replay == full replay, idempotent, survives " +
      "manifest pruning") {
    val root = freshRoot()
    LogKit.commit(root, 0, Seq("data/v0/a.parquet"), Seq.empty,
      "write")
    LogKit.commit(root, 1, Seq("data/v1/b.parquet"),
      Seq("data/v0/a.parquet"), "merge")
    LogKit.commit(root, 2, Seq("data/v2/c.parquet"),
      Seq("data/v1/b.parquet"), "merge")
    val full2 = ManifestLog.filesAsOf(root, 2)
    ManifestLog.writeCheckpoint(root, 2)
    // derived state: racing/repeated publication is a no-op
    ManifestLog.writeCheckpoint(root, 2)
    assert(ManifestLog.checkpointVersions(root) == Seq(2L))
    assert(ManifestLog.filesAsOf(root, 2) == full2,
      "checkpoint-seeded resolve must equal the full replay")
    LogKit.commit(root, 3, Seq("data/v3/d.parquet"),
      Seq("data/v2/c.parquet"), "merge")
    assert(ManifestLog.filesAsOf(root, 3) == Seq("data/v3/d.parquet"),
      "tail replay after the checkpoint must fold manifest 3")
    // the retention story: prune the folded manifests; everything at
    // or after the checkpoint must still resolve
    (0L to 2L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.filesAsOf(root, 2) == full2)
    assert(ManifestLog.filesAsOf(root, 3) == Seq("data/v3/d.parquet"))
    // a pruned, non-checkpointed version is GONE and must say so
    intercept[IllegalArgumentException](ManifestLog.filesAsOf(root, 1))
  }

  test("conflicted writer rebases and commits the next version") {
    val root = freshRoot()
    LogKit.commit(root, 0, Seq("data/v0/a.parquet"), Seq.empty,
      "write")
    LogKit.commit(root, 1, Seq("data/v1/b.parquet"),
      Seq("data/v0/a.parquet"), "merge")
    // a writer that read v0, lost the race for v1, retries on top of
    // the CURRENT latest — the standard optimistic-concurrency loop
    intercept[ManifestLog.Conflict] {
      LogKit.commit(root, 1, Seq("data/v1/mine.parquet"),
        Seq("data/v0/a.parquet"), "merge")
    }
    val next = ManifestLog.latestVersion(root).get + 1
    LogKit.commit(root, next, Seq("data/v2/mine.parquet"),
      ManifestLog.filesAsOf(root, next - 1), "merge")
    assert(ManifestLog.filesAsOf(root, 2) == Seq("data/v2/mine.parquet"))
  }

  test("the 8-writer race holds on the CAS-mock store: conflict " +
      "semantics are the protocol's, not link(2)'s (r14 verdict #5)") {
    val store = new InMemoryLogStore
    LogKit.commitIn(store, 0, Seq("data/v0/base.parquet"), Seq.empty,
      "write")
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val attempts = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            try {
              LogKit.commitIn(store, 1, Seq(s"data/v1/w$i.parquet"),
                Seq("data/v0/base.parquet"), "merge")
              true
            } catch { case ManifestLog.Conflict(1L) => false }
          }
        })
      }
      gate.countDown()
      val wins = attempts.map(_.get()).count(identity)
      assert(wins == 1, s"expected exactly one winning commit, got $wins")
    } finally pool.shutdown()
    assert(ManifestLog.versionsIn(store) == Seq(0L, 1L))
    val v1 = ManifestLog.snapshotIn(store, 1).files
    assert(v1.length == 1 && v1.head.startsWith("data/v1/w"))
  }

  test("auto-checkpoint policy folds every K commits and prunes " +
      "manifests behind the previous checkpoint (r14 verdict #4)") {
    val root = freshRoot()
    val policy = Some(ManifestLog.CheckpointPolicy(every = 4))
    // 10 linear commits; each version rewrites the previous file set
    (0L to 9L).foreach { v =>
      LogKit.commit(root, v, Seq(s"data/v$v/f.parquet"),
        if (v == 0) Seq.empty else Seq(s"data/v${v - 1}/f.parquet"),
        "merge", policy)
    }
    // checkpoints folded at 4 and 8; the 8-fold pruned manifests <= 4
    assert(ManifestLog.checkpointVersions(root) == Seq(4L, 8L))
    assert(ManifestLog.versions(root) == Seq(5L, 6L, 7L, 8L, 9L),
      "manifests folded by the previous checkpoint must be pruned")
    // every surviving version resolves exactly; 4 resolves via its own
    // checkpoint even though its manifest is gone
    (4L to 9L).foreach { v =>
      assert(ManifestLog.filesAsOf(root, v) == Seq(s"data/v$v/f.parquet"))
    }
    // pruned, checkpoint-less versions fail loudly
    intercept[IllegalArgumentException](ManifestLog.filesAsOf(root, 3))
    // the same policy drives the oracle-facing invariant: a fresh
    // commit keeps resolving (11 % 4 != 0 -> no fold; 12 folds again)
    (10L to 12L).foreach { v =>
      LogKit.commit(root, v, Seq(s"data/v$v/f.parquet"),
        Seq(s"data/v${v - 1}/f.parquet"), "merge", policy)
    }
    assert(ManifestLog.checkpointVersions(root) == Seq(4L, 8L, 12L))
    assert(ManifestLog.versions(root) == Seq(9L, 10L, 11L, 12L))
    assert(ManifestLog.filesAsOf(root, 12) == Seq("data/v12/f.parquet"))
  }

  test("file stats: ranged reads prune by interval, stats-less files " +
      "are never skipped, removes drop stats, checkpoints fold them " +
      "(r15 data skipping)") {
    import ManifestLog.FileStat
    val root = freshRoot()
    // v0: three stats-bearing files covering [0,9], [10,19], [20,29],
    // plus one legacy file committed WITHOUT stats
    LogKit.commit(root, 0,
      Seq("data/v0/a.parquet", "data/v0/b.parquet", "data/v0/c.parquet",
        "data/v0/legacy.parquet"), Seq.empty, "write",
      stats = Map("data/v0/a.parquet" -> FileStat(0, 9),
        "data/v0/b.parquet" -> FileStat(10, 19),
        "data/v0/c.parquet" -> FileStat(20, 29)))
    // the prune keeps intersecting intervals + every unknown-stats file
    assert(ManifestLog.filesMatching(ManifestLog.snapshot(root, 0), 12, 14) ==
      Seq("data/v0/b.parquet", "data/v0/legacy.parquet"))
    // closed-interval boundaries: touching counts as intersecting
    assert(ManifestLog.filesMatching(
      ManifestLog.snapshot(root, 0), 9, 10).toSet ==
      Set("data/v0/a.parquet", "data/v0/b.parquet", "data/v0/legacy.parquet"))
    // a range nothing matches still returns the must-read files
    assert(ManifestLog.filesMatching(
      ManifestLog.snapshot(root, 0), 1000, 2000) ==
      Seq("data/v0/legacy.parquet"))
    // v1 rewrites b: its stats must die with the remove, the
    // replacement's must take over
    LogKit.commit(root, 1, Seq("data/v1/b2.parquet"),
      Seq("data/v0/b.parquet"), "merge",
      stats = Map("data/v1/b2.parquet" -> FileStat(10, 24)))
    assert(ManifestLog.filesMatching(ManifestLog.snapshot(root, 1), 12, 14) ==
      Seq("data/v0/legacy.parquet", "data/v1/b2.parquet"))
    assert(ManifestLog.snapshot(root, 1).stats ==
      Map("data/v0/a.parquet" -> FileStat(0, 9),
        "data/v0/c.parquet" -> FileStat(20, 29),
        "data/v1/b2.parquet" -> FileStat(10, 24)))
    // stats survive checkpoint folding + manifest pruning
    ManifestLog.writeCheckpoint(root, 1)
    (0L to 1L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.filesMatching(ManifestLog.snapshot(root, 1), 12, 14) ==
      Seq("data/v0/legacy.parquet", "data/v1/b2.parquet"))
    // time travel before the rewrite is gone with the manifests: loud
    intercept[IllegalArgumentException](ManifestLog.filesMatching(
      ManifestLog.snapshot(root, 0), 12, 14))
  }

  test("named-column stats: conjunctive prune multiplies on a z-grid, " +
      "unknown column/file is must-read, removes drop colstats, " +
      "checkpoints fold them (r15 multicol skipping)") {
    import ManifestLog.FileStat
    val root = freshRoot()
    // the z-layout shape in miniature: a 2x2 quadrant grid — each file
    // tight in BOTH x and y (what Morton clustering buys), plus one
    // file with x-only stats and one with none
    def q(n: String, x: FileStat, y: FileStat) =
      s"data/v0/$n.parquet" -> Map("x" -> x, "y" -> y)
    LogKit.commit(root, 0,
      Seq("data/v0/q00.parquet", "data/v0/q01.parquet",
        "data/v0/q10.parquet", "data/v0/q11.parquet",
        "data/v0/xonly.parquet", "data/v0/legacy.parquet"),
      Seq.empty, "write",
      colStats = Map(
        q("q00", FileStat(0, 9), FileStat(0, 9)),
        q("q01", FileStat(0, 9), FileStat(10, 19)),
        q("q10", FileStat(10, 19), FileStat(0, 9)),
        q("q11", FileStat(10, 19), FileStat(10, 19)),
        "data/v0/xonly.parquet" -> Map("x" -> FileStat(0, 9))))
    // box = lower-left quadrant: x alone keeps 2 quadrants (+ the
    // 2 must-reads), y alone keeps 2 (+ xonly has no y stats → kept),
    // the conjunction keeps exactly 1 quadrant (+ must-reads) —
    // strictly better than the best single axis
    val boxX = Seq(("x", 2L, 7L)); val boxY = Seq(("y", 2L, 7L))
    assert(ManifestLog.filesMatchingCols(
      ManifestLog.snapshot(root, 0), boxX).toSet ==
      Set("data/v0/q00.parquet", "data/v0/q01.parquet",
        "data/v0/xonly.parquet", "data/v0/legacy.parquet"))
    assert(ManifestLog.filesMatchingCols(
      ManifestLog.snapshot(root, 0), boxY).toSet ==
      Set("data/v0/q00.parquet", "data/v0/q10.parquet",
        "data/v0/xonly.parquet", "data/v0/legacy.parquet"))
    assert(ManifestLog.filesMatchingCols(
      ManifestLog.snapshot(root, 0), boxX ++ boxY).toSet ==
      Set("data/v0/q00.parquet", "data/v0/xonly.parquet",
        "data/v0/legacy.parquet"))
    // a predicate on a column nobody tracked prunes nothing
    assert(ManifestLog.filesMatchingCols(ManifestLog.snapshot(root, 0),
      Seq(("z", 5L, 6L))).size == 6)
    // a rewrite drops the removed file's colstats with it
    LogKit.commit(root, 1, Seq("data/v1/q00b.parquet"),
      Seq("data/v0/q00.parquet"), "merge",
      colStats = Map("data/v1/q00b.parquet" ->
        Map("x" -> FileStat(0, 4), "y" -> FileStat(0, 4))))
    assert(!ManifestLog.snapshot(root, 1).colStats
      .contains("data/v0/q00.parquet"))
    // colstats survive checkpoint folding + manifest pruning
    ManifestLog.writeCheckpoint(root, 1)
    (0L to 1L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.filesMatchingCols(
      ManifestLog.snapshot(root, 1), boxX ++ boxY).toSet ==
      Set("data/v1/q00b.parquet", "data/v0/xonly.parquet",
        "data/v0/legacy.parquet"))
  }

  test("txn markers: latest batch per appId folds as max, survives " +
      "checkpoint + prune, independent per writer (r15 exactly-once)") {
    val root = freshRoot()
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("ingest")).isEmpty)
    LogKit.commit(root, 0, Seq("data/b0/f.parquet"), Seq.empty,
      "stream-append", txn = Some(("ingest", 0L)))
    LogKit.commit(root, 1, Seq("data/b1/f.parquet"), Seq.empty,
      "stream-append", txn = Some(("ingest", 1L)))
    // a second, independent writer interleaves without clobbering
    LogKit.commit(root, 2, Seq("data/c5/f.parquet"), Seq.empty,
      "stream-append", txn = Some(("compactor", 5L)))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("ingest")).contains(1L))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("compactor")).contains(5L))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("unknown")).isEmpty)
    // the idempotence decision must survive checkpoint + prune of the
    // manifests that carried the markers (total-checkpoint-loss replay
    // arrives AFTER the log has been compacted)
    ManifestLog.writeCheckpoint(root, 2)
    (0L to 2L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("ingest")).contains(1L))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("compactor")).contains(5L))
    // post-compaction commits keep folding on top of the checkpoint
    LogKit.commit(root, 3, Seq("data/b2/f.parquet"), Seq.empty,
      "stream-append", txn = Some(("ingest", 2L)))
    assert(ManifestLog.latestSnapshot(root)
      .flatMap(_.txns.get("ingest")).contains(2L))
  }

  test("bloom sidecars: no false negatives ever, point prune keeps " +
      "might-contain + bloom-less files, refs die with removes and " +
      "fold through checkpoints (r15 point skipping)") {
    import ManifestLog.BloomRef
    val root = freshRoot()
    val m = 1024; val k = 4
    def sidecar(rel: String, values: Seq[Long]): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        FileBloom.build(values.iterator, m, k))
    }
    // determinism + the bloom contract on the raw primitive
    val vals = (0L until 500L).map(_ * 7919L)
    val bits = FileBloom.build(vals.iterator, 8192, k)
    assert(vals.forall(FileBloom.mightContain(bits, 8192, k, _)),
      "an inserted value must never be ruled out")
    assert(bits.sameElements(FileBloom.build(vals.iterator, 8192, k)),
      "same values, same bits — bit-deterministic build")
    // two files with disjoint value sets + one legacy file, no bloom
    sidecar("data/v0/a.bloom", Seq(1L, 2L, 3L))
    sidecar("data/v0/b.bloom", Seq(100L, 200L, 300L))
    LogKit.commit(root, 0,
      Seq("data/v0/a.parquet", "data/v0/b.parquet",
        "data/v0/legacy.parquet"), Seq.empty, "write",
      blooms = Map(
        "data/v0/a.parquet" ->
          Map("id" -> BloomRef("id", "data/v0/a.bloom", m, k)),
        "data/v0/b.parquet" ->
          Map("id" -> BloomRef("id", "data/v0/b.bloom", m, k))))
    // the containing file always survives; the bloom-less file is
    // must-read; the other file is (deterministically, here) pruned
    assert(ManifestLog.filesMatchingPoint(
      root, ManifestLog.snapshot(root, 0), "id", 2L) ==
      Seq("data/v0/a.parquet", "data/v0/legacy.parquet"))
    assert(ManifestLog.filesMatchingPoint(
      root, ManifestLog.snapshot(root, 0), "id", 200L) ==
      Seq("data/v0/b.parquet", "data/v0/legacy.parquet"))
    // a column nobody indexed prunes nothing
    assert(ManifestLog.filesMatchingPoint(
      root, ManifestLog.snapshot(root, 0), "other", 2L)
      .size == 3)
    // refs die with their file's remove...
    LogKit.commit(root, 1, Seq.empty,
      Seq("data/v0/a.parquet"), "delete")
    assert(!ManifestLog.snapshot(root, 1).blooms.contains("data/v0/a.parquet"))
    // ...and survive checkpoint folding + manifest pruning
    ManifestLog.writeCheckpoint(root, 1)
    (0L to 1L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.filesMatchingPoint(
      root, ManifestLog.snapshot(root, 1), "id", 200L) ==
      Seq("data/v0/b.parquet", "data/v0/legacy.parquet"))
  }

  test("dynamic file pruning: stats and blooms compose per file, each " +
      "class can independently rule out, index-less files are " +
      "must-read, containing files always survive (r16 DFP)") {
    import ManifestLog.{BloomRef, FileStat}
    val root = freshRoot()
    val m = 1024; val k = 4
    def sidecar(rel: String, values: Seq[Long]): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, FileBloom.build(values.iterator, m, k))
    }
    // a: stats [0,9] + bloom {1,2,3}; b: stats [10,19] + bloom
    // {11,12}; c: stats only [20,29]; legacy: no indexes at all
    sidecar("data/a.bloom", Seq(1L, 2L, 3L))
    sidecar("data/b.bloom", Seq(11L, 12L))
    LogKit.commit(root, 0,
      Seq("data/a.parquet", "data/b.parquet", "data/c.parquet",
        "data/legacy.parquet"), Seq.empty, "write",
      colStats = Map(
        "data/a.parquet" -> Map("id" -> FileStat(0, 9)),
        "data/b.parquet" -> Map("id" -> FileStat(10, 19)),
        "data/c.parquet" -> Map("id" -> FileStat(20, 29))),
      blooms = Map(
        "data/a.parquet" -> Map("id" -> BloomRef("id", "data/a.bloom", m, k)),
        "data/b.parquet" -> Map("id" -> BloomRef("id", "data/b.bloom", m, k))))
    val store = ManifestLog.storeFor(root)
    def prune(keys: Long*): Set[String] =
      ManifestLog.filesMatchingKeys(
        root, ManifestLog.snapshotIn(store, 0), "id", keys)
        .toSet
    // key 2: a survives (stats hit + bloom maybe), b pruned by STATS,
    // c pruned by stats, legacy must-read
    assert(prune(2L) == Set("data/a.parquet", "data/legacy.parquet"))
    // key 15: inside b's stats but NOT in its bloom — the bloom class
    // rules it out where stats alone could not (deterministic here)
    assert(prune(15L) == Set("data/legacy.parquet"))
    // key 25: c has stats only — stats hit keeps it (no bloom to veto)
    assert(prune(25L) == Set("data/c.parquet", "data/legacy.parquet"))
    // multi-key dim: union semantics — ANY key can keep a file
    assert(prune(2L, 11L, 25L) == Set("data/a.parquet", "data/b.parquet",
      "data/c.parquet", "data/legacy.parquet"))
    // a key nothing matches: only the must-read file remains
    assert(prune(5000L) == Set("data/legacy.parquet"))
    // an unindexed column prunes nothing
    assert(ManifestLog.filesMatchingKeys(
      root, ManifestLog.snapshotIn(store, 0), "other",
      Seq(2L)).size == 4)
    intercept[IllegalArgumentException](prune())
  }

  test("vacuum deletes exactly the unreachable parquet files: crashed-" +
      "writer orphans and rewrites pruned past, never anything any " +
      "resolvable version references (r15 GC)") {
    val root = freshRoot()
    def touch(rel: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p)
    }
    // v0: two files (a carries a bloom sidecar); v1 rewrites a -> a2;
    // a crashed writer landed data/b9 but never committed; a stray
    // non-parquet marker rides along and must survive any sweep
    Seq("data/v0/a.parquet", "data/v0/a.parquet.bloom",
      "data/v0/keep.parquet",
      "data/v1/a2.parquet", "data/b9/orphan.parquet",
      "data/v0/_SUCCESS").foreach(touch)
    LogKit.commit(root, 0,
      Seq("data/v0/a.parquet", "data/v0/keep.parquet"), Seq.empty, "write",
      blooms = Map("data/v0/a.parquet" -> Map("id" ->
        ManifestLog.BloomRef("id", "data/v0/a.parquet.bloom", 1024, 4))))
    LogKit.commit(root, 1, Seq("data/v1/a2.parquet"),
      Seq("data/v0/a.parquet"), "merge")
    // both versions resolvable: only the crashed writer's file is GC'd
    // (a's sidecar is still referenced by resolvable v0)
    assert(ManifestLog.vacuum(root) == Seq("data/b9/orphan.parquet"))
    assert(ManifestLog.filesAsOf(root, 0).toSet ==
      Set("data/v0/a.parquet", "data/v0/keep.parquet"))
    // checkpoint v1 and prune manifest 0: v0 is no longer resolvable,
    // so the rewritten-away a.parquet AND its bloom sidecar become
    // garbage — and ONLY they
    ManifestLog.writeCheckpoint(root, 1)
    (0L to 0L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    assert(ManifestLog.vacuum(root) ==
      Seq("data/v0/a.parquet", "data/v0/a.parquet.bloom"))
    // everything still resolvable reads identically post-vacuum
    assert(ManifestLog.filesAsOf(root, 1).toSet ==
      Set("data/v0/keep.parquet", "data/v1/a2.parquet"))
    // the marker file was never a candidate
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data/v0/_SUCCESS")))
    // idempotent: a second sweep finds nothing
    assert(ManifestLog.vacuum(root).isEmpty)
  }

  test("expireVersionsBefore drops the time-travel tail explicitly " +
      "(r17): horizon and later stay exact, expired reads are loud, " +
      "and the expire + vacuum pair reclaims exclusively-expired " +
      "bytes — and only those") {
    val root = freshRoot()
    def touch(rel: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p)
    }
    Seq("data/v0/a.parquet", "data/v0/keep.parquet",
      "data/v1/a2.parquet", "data/v2/c.parquet").foreach(touch)
    LogKit.commit(root, 0,
      Seq("data/v0/a.parquet", "data/v0/keep.parquet"), Seq.empty,
      "write")
    LogKit.commit(root, 1, Seq("data/v1/a2.parquet"),
      Seq("data/v0/a.parquet"), "merge")
    LogKit.commit(root, 2, Seq("data/v2/c.parquet"), Seq.empty,
      "write")
    // nothing is sweepable while every version resolves
    assert(ManifestLog.vacuum(root, dryRun = true).isEmpty)
    intercept[IllegalArgumentException] {
      ManifestLog.expireVersionsBefore(root, 99) // unknown horizon
    }
    val expired = ManifestLog.expireVersionsBefore(root, 1)
    assert(expired == Seq(0L))
    // the horizon checkpointed: v1 and v2 read exactly as before
    assert(ManifestLog.filesAsOf(root, 1).toSet ==
      Set("data/v0/keep.parquet", "data/v1/a2.parquet"))
    assert(ManifestLog.filesAsOf(root, 2).toSet ==
      Set("data/v0/keep.parquet", "data/v1/a2.parquet",
        "data/v2/c.parquet"))
    // the expired version is loudly unreadable, never silently remapped
    intercept[IllegalArgumentException] {
      ManifestLog.filesAsOf(root, 0)
    }
    // vacuum's keep-set shrank to the resolvable set: exactly the
    // rewritten-away v0-exclusive file is reclaimed
    assert(ManifestLog.vacuum(root) == Seq("data/v0/a.parquet"))
    assert(ManifestLog.filesAsOf(root, 2).size == 3)
    // idempotent: expiring at the same horizon again is a no-op
    assert(ManifestLog.expireVersionsBefore(root, 1).isEmpty)
  }

  test("commit rejects every string the flat format cannot round-trip " +
      "— corruption stays loud at write time, never silent at replay " +
      "(r15 advice)") {
    val root = freshRoot()
    // the format's own delimiters: '|' (field), ',' (element),
    // '"' (quote), ']' (field terminator) — each would serialize fine
    // and mis-split on replay if admitted
    for (bad <- Seq("data/a|b.parquet", "data/a,b.parquet",
        "data/a\"b.parquet", "data/a]b.parquet")) {
      intercept[IllegalArgumentException](
        LogKit.commit(root, 0, Seq(bad), Seq.empty, "write"))
      // removes are serialized through the same arrays
      intercept[IllegalArgumentException](
        LogKit.commit(root, 0, Seq("data/ok.parquet"), Seq(bad),
          "write"))
    }
    // colstat column names and txn appIds ride the same flat strings
    intercept[IllegalArgumentException](
      LogKit.commit(root, 0, Seq("data/ok.parquet"), Seq.empty,
        "write", colStats = Map("data/ok.parquet" ->
          Map("x,y" -> ManifestLog.FileStat(0, 1)))))
    intercept[IllegalArgumentException](
      LogKit.commit(root, 0, Seq("data/ok.parquet"), Seq.empty,
        "write", txn = Some(("app\"1", 0L))))
    // nothing was committed by any rejected attempt; a clean commit
    // at the same version then round-trips exactly
    assert(ManifestLog.versions(root).isEmpty)
    LogKit.commit(root, 0, Seq("data/ok.parquet"), Seq.empty, "write")
    assert(ManifestLog.filesAsOf(root, 0) == Seq("data/ok.parquet"))
  }

  test("vacuum skips caller-excluded side directories: a co-located " +
      "streaming landing dir survives the sweep while true orphans " +
      "still go (r15 advice)") {
    val root = freshRoot()
    def touch(rel: String): Unit = {
      val p = java.nio.file.Paths.get(root, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p)
    }
    // a committed table file, a crashed-attempt orphan, and the
    // stream's SOURCE input under landing/ — unreferenced by the log
    // by design, and exactly what an unscoped sweep would eat
    Seq("data/v0/a.parquet", "data/b9-dead/orphan.parquet",
      "landing/part-0.parquet", "landing/part-1.parquet").foreach(touch)
    LogKit.commit(root, 0, Seq("data/v0/a.parquet"), Seq.empty,
      "write")
    assert(ManifestLog.vacuum(root, exclude = Seq("landing")) ==
      Seq("data/b9-dead/orphan.parquet"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "landing/part-0.parquet")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "landing/part-1.parquet")))
    // the exclusion is a prefix on PATH SEGMENTS, not a substring:
    // a data file whose name merely starts with "landing" is swept
    touch("landingzone.parquet")
    assert(ManifestLog.vacuum(root, exclude = Seq("landing")) ==
      Seq("landingzone.parquet"))
  }

  test("incremental change read: the tail's actions per version in " +
      "order; a pruned tail fails loudly, never skips (r15 CDC)") {
    val root = freshRoot()
    LogKit.commit(root, 0, Seq("data/v0/a.parquet"), Seq.empty,
      "write")
    LogKit.commit(root, 1, Seq("data/v1/b.parquet"), Seq.empty,
      "stream-append")
    LogKit.commit(root, 2, Seq("data/v2/c.parquet"),
      Seq("data/v0/a.parquet"), "merge")
    assert(LogKit.changesBetween(root, 0, 2) == Seq(
      (1L, Seq("data/v1/b.parquet"), Seq.empty),
      (2L, Seq("data/v2/c.parquet"), Seq("data/v0/a.parquet"))))
    // a cursor behind the retention horizon must re-bootstrap, not
    // silently lose version 1's actions
    ManifestLog.writeCheckpoint(root, 2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, "_log", f"${1L}%020d.json"))
    intercept[IllegalArgumentException](
      LogKit.changesBetween(root, 0, 2))
    // the surviving tail after the cursor is still consumable
    assert(LogKit.changesBetween(root, 1, 2).map(_._1) == Seq(2L))
  }

  test("a reader mid-prune never resolves a torn prefix: descending " +
      "deletion leaves only exact-or-loud states") {
    val root = freshRoot()
    (0L to 5L).foreach { v =>
      LogKit.commit(root, v, Seq(s"data/v$v/f.parquet"),
        if (v == 0) Seq.empty else Seq(s"data/v${v - 1}/f.parquet"),
        "merge")
    }
    ManifestLog.writeCheckpoint(root, 5)
    // simulate a pruner dying mid-way through the DESCENDING delete of
    // manifests 0..5: versions 5 and 4 are gone, 0..3 survive
    Seq(5L, 4L).foreach { v =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(
        root, "_log", f"$v%020d.json"))
    }
    // intact prefix below the gap: exact full replay
    (0L to 3L).foreach { v =>
      assert(ManifestLog.filesAsOf(root, v) == Seq(s"data/v$v/f.parquet"))
    }
    // inside the gap, no checkpoint: loud failure, never a silent
    // resolve over missing manifests
    intercept[IllegalArgumentException](ManifestLog.filesAsOf(root, 4))
    // at/after the checkpoint: exact via checkpoint-seeded replay
    assert(ManifestLog.filesAsOf(root, 5) == Seq("data/v5/f.parquet"))
  }

  test("hiveSegsOf resolves layout below the shared ancestry (r18): " +
      "relative paths are all-layout, absolute refs strip the common " +
      "prefix, single-valued trailing partitions push back, ancestor " +
      "'=' directories above the layout are never segments") {
    import ManifestLog.hiveSegsOf
    // relative: every directory k=v segment is layout; file names are
    // never segments
    assert(hiveSegsOf(Seq("data/v0/day=3/part-0.parquet")) ==
      Map("data/v0/day=3/part-0.parquet" -> Seq(("day", "3"))))
    // absolute, multi-valued: ancestry (incl. an '='-named ancestor)
    // strips; the differing k=v dirs are layout
    val multi = Seq("/tmp/run=9/src/data/k=1/f.parquet",
      "/tmp/run=9/src/data/k=2/g.parquet")
    assert(hiveSegsOf(multi) == Map(
      multi(0) -> Seq(("k", "1")), multi(1) -> Seq(("k", "2"))))
    // absolute, single-valued: k=1 lands in the common prefix and is
    // PUSHED BACK into the layout (still a partition)
    val single = Seq("/tmp/src/data/k=1/f.parquet",
      "/tmp/src/data/k=1/g.parquet")
    assert(hiveSegsOf(single) == Map(
      single(0) -> Seq(("k", "1")), single(1) -> Seq(("k", "1"))))
    // absolute, flat under a deeper non-'=' dir: an '='-ancestor
    // ABOVE it contributes nothing
    val flat = Seq("/tmp/run=9/src/data/f.parquet",
      "/tmp/run=9/src/data/g.parquet")
    assert(hiveSegsOf(flat).values.forall(_.isEmpty))
    // mixed rel + abs resolve independently
    val mixed = hiveSegsOf(Seq("data/day=5/h.parquet",
      "/tmp/src/data/f.parquet"))
    assert(mixed("data/day=5/h.parquet") == Seq(("day", "5")) &&
      mixed("/tmp/src/data/f.parquet").isEmpty)
    // DOCUMENTED AMBIGUITY pin (r19; r18 advice): a single-valued
    // LEADING segment coexisting with below-prefix segments resolves
    // AS LAYOUT — from paths alone it is indistinguishable from an
    // '='-named directory above an hour-partitioned source root, and
    // this is the consciously chosen (and readVersionHive-consistent)
    // side; see the hiveSegsOf scaladoc for the caller contract
    val lead = Seq("/w/events/dt=2026-08-16/hour=1/f.parquet",
      "/w/events/dt=2026-08-16/hour=2/g.parquet")
    assert(hiveSegsOf(lead) == Map(
      lead(0) -> Seq(("dt", "2026-08-16"), ("hour", "1")),
      lead(1) -> Seq(("dt", "2026-08-16"), ("hour", "2"))))
  }

  test("typed CHECK decompositions stay strict (r18): OR and " +
      "unresolvable columns yield None; flipped literals normalize; " +
      "IS NOT NULL atoms resolve standalone and inside typed mixes") {
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL(
      "qty BIGINT, price DOUBLE, grade STRING")
    // OR is never provable from per-file stats
    assert(ManifestLog.provableTypedBounds(
      "qty >= 10 OR price <= 0.5", schema).isEmpty)
    assert(ManifestLog.provableNotNullAtoms(
      "qty IS NOT NULL OR price IS NOT NULL").isEmpty)
    // a column missing from the declared schema kills the typed path
    assert(ManifestLog.provableTypedBounds(
      "ghost >= 10", schema).isEmpty)
    // flipped literal sides normalize to the same bound
    val a = ManifestLog.provableTypedBounds("qty >= 10", schema).get
    val b = ManifestLog.provableTypedBounds("10 <= qty", schema).get
    assert(a == b && a._1("qty")._1 == 10L)
    // integral literal on a DOUBLE column proves in image space
    val img = ManifestLog.provableTypedBounds("price >= 5", schema).get
    assert(img._2("price")._1 == ManifestFileIndex.dblKey(5.0))
    // IS NOT NULL: standalone and inside a typed mix
    assert(ManifestLog.provableNotNullAtoms(
      "qty IS NOT NULL AND grade IS NOT NULL")
      .contains(Seq("qty", "grade")))
    val mix = ManifestLog.provableTypedBounds(
      "qty >= 0 AND price IS NOT NULL", schema).get
    assert(mix._1("qty") == ((0L, Long.MaxValue)) &&
      mix._4 == Seq("price"))
  }

  test("Replay folds the dvs-ever bit from the same reads the " +
      "checkpoint writer needs: exact from genesis, latched by a dv " +
      "commit, inherited from a checkpoint and baked into its JSON " +
      "and meta sibling") {
    val a = freshRoot(); val sA = ManifestLog.storeFor(a)
    LogKit.commit(a, 0, Seq("data/a.parquet"), Seq.empty, "write")
    assert(!ManifestLog.snapshotIn(sA, 0).dvsEver)
    assert(!ManifestLog.dvsEverThrough(sA, 0))
    // a dv commit latches it — and it stays latched after a COW
    // rewrite drops every surviving ref (strictly-conservative, same
    // contract as dvsEverThrough)
    LogKit.commit(a, 1, Seq.empty, Seq.empty, "delete",
      dvs = Map("data/a.parquet" -> ManifestLog.DvRef("ext/a.dv", 2L)))
    LogKit.commit(a, 2, Seq("data/b.parquet"),
      Seq("data/a.parquet"), "rewrite")
    assert(ManifestLog.snapshotIn(sA, 2).dvsEver)
    assert(ManifestLog.dvsEverThrough(sA, 2))
    // a checkpoint inherits the bit; checkpoint-seeded replays stay
    // exact (versions ≤ the checkpoint need no manifest reads at all)
    ManifestLog.writeCheckpoint(a, 2)
    LogKit.commit(a, 3, Seq("data/c.parquet"), Seq.empty, "append")
    assert(ManifestLog.snapshotIn(sA, 3).dvsEver)
    assert(ManifestLog.dvsEverThrough(sA, 3))
    Seq(f"${2L}%020d.checkpoint.json", f"${2L}%020d.checkpoint.meta.json")
      .foreach(f => assert(sA.read(f).contains(""""dvsever":["1"]"""), f))
  }

  test("dvsEverThrough reads the bit from the KB meta sibling, not the " +
      "full checkpoint, and refuses a sibling without the bit as below " +
      "the format floor") {
    val root = freshRoot(); val s = ManifestLog.storeFor(root)
    LogKit.commit(root, 0, Seq("data/f.parquet"), Seq.empty, "write")
    ManifestLog.writeCheckpoint(root, 0)
    val meta = f"${0L}%020d.checkpoint.meta.json"
    def setMeta(json: String): Unit = { s.delete(meta); s.publish(meta, json) }
    // the sibling alone says 1 (the checkpoint says 0): it is honored
    setMeta("""{"version":0,"schema":[],"checks":["-"],"dvsever":["1"]}""")
    assert(ManifestLog.dvsEverThrough(s, 0),
      "the sibling's bit must be honored")
    // an r18-era sibling WITHOUT the bit is refused, naming it
    setMeta("""{"version":0,"schema":[],"checks":["-"]}""")
    val e = intercept[ManifestLog.BelowFormatFloor](
      ManifestLog.dvsEverThrough(s, 0))
    assert(e.file == meta && e.getMessage.contains("format floor"))
  }
}
