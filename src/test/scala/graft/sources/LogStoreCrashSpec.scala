package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Crash-recovery fuzz for the commit path (r15 verdict #7), on BOTH
  * store bindings: torn/partial staged writes, a checkpointer dying
  * between fold and retention prune, and every intermediate state a
  * reader can observe while racing a retention prune. The §8.3.1
  * "never sees a torn state" claim, pinned beyond the happy prune. */
class LogStoreCrashSpec extends AnyFunSuite {

  private def posix(): LogStore = new PosixLogStore(
    java.nio.file.Files.createTempDirectory("graft_crash")
      .resolve("_log"))

  private val stores: Seq[(String, () => LogStore)] =
    Seq(("posix", () => posix()), ("cas-mock", () => new InMemoryLogStore))

  /** The linear 6-commit table every scenario replays: v rewrites
    * v-1's file, with a txn marker every other commit. */
  private def build(store: LogStore, upTo: Long = 5L): Unit =
    (0L to upTo).foreach { v =>
      ManifestLog.commitIn(store, v, Seq(s"data/v$v/f.parquet"),
        if (v == 0) Seq.empty else Seq(s"data/v${v - 1}/f.parquet"),
        "merge",
        txn = if (v % 2 == 0) Some(("writer", v)) else None)
    }

  for ((label, mk) <- stores) {

    test(s"[$label] a writer crashing mid-stage leaves NOTHING visible: " +
        "partial stage files never list, never replay, never block " +
        "the version they were staging") {
      val store = mk()
      build(store, upTo = 2)
      // (the POSIX on-disk torn-stage variant has its own dedicated
      // test below — here the pin is protocol-level, store-agnostic)
      // protocol-level pin, valid on both stores: a loser's publish of
      // GARBAGE content for an already-committed name changes nothing
      val before = store.read(f"${2L}%020d.json")
      assert(!store.publish(f"${2L}%020d.json", "{TORN"))
      assert(store.read(f"${2L}%020d.json") == before,
        "a lost publish must never replace committed content")
      // and a version nobody finished publishing is simply absent —
      // the next writer takes it cleanly
      assert(ManifestLog.versionsIn(store) == Seq(0L, 1L, 2L))
      ManifestLog.commitIn(store, 3, Seq("data/v3/f.parquet"),
        Seq("data/v2/f.parquet"), "merge")
      assert(ManifestLog.snapshotIn(store, 3).files == Seq("data/v3/f.parquet"))
    }

    test(s"[$label] checkpointer dying between fold and prune: the " +
        "half-maintained state resolves exactly, and the NEXT policy " +
        "commit completes retention") {
      val store = mk()
      build(store)
      // the crash window: checkpoint published, prune never ran
      ManifestLog.writeCheckpointIn(store, 3)
      assert(ManifestLog.checkpointVersionsIn(store) == Seq(3L))
      assert(ManifestLog.versionsIn(store) == (0L to 5L),
        "crashed before prune: every manifest must still be present")
      // every version resolves exactly in the half-maintained state
      (0L to 5L).foreach { v =>
        assert(ManifestLog.snapshotIn(store, v).files ==
          Seq(s"data/v$v/f.parquet"))
      }
      // txn markers survive the seam (checkpoint + tail fold)
      assert(ManifestLog.snapshotIn(store, 5).txns.get("writer").contains(4L))
      // recovery needs no special case: the next policy'd winning
      // commit folds its own checkpoint and prunes behind the
      // PREVIOUS one (the crashed fold), restoring the invariant
      ManifestLog.commitIn(store, 6, Seq("data/v6/f.parquet"),
        Seq("data/v5/f.parquet"), "merge",
        policy = Some(ManifestLog.CheckpointPolicy(every = 6)),
        txn = Some(("writer", 6L)))
      assert(ManifestLog.checkpointVersionsIn(store) == Seq(3L, 6L))
      assert(ManifestLog.versionsIn(store) == Seq(4L, 5L, 6L),
        "retention must prune the manifests the crashed fold covered")
      (3L to 6L).foreach { v =>
        assert(ManifestLog.snapshotIn(store, v).files ==
          Seq(s"data/v$v/f.parquet"))
      }
      assert(ManifestLog.snapshotIn(store, 6).txns.get("writer").contains(6L))
      // pruned, checkpoint-less history fails loudly
      intercept[IllegalArgumentException](ManifestLog.snapshotIn(store, 1))
    }

    test(s"[$label] EVERY intermediate state of a racing retention " +
        "prune reads exact or loud — all 7 observable prefixes of the " +
        "descending delete, exhaustively") {
      // stronger than a thread race: enumerate every state a reader
      // can possibly observe (deletion is one name at a time,
      // descending), assert exact-or-loud at each — a silent wrong
      // resolve in ANY state fails here deterministically
      val deleteOrder = Seq(5L, 4L, 3L, 2L, 1L, 0L)
      for (k <- 0 to deleteOrder.size) {
        val store = mk()
        build(store)
        ManifestLog.writeCheckpointIn(store, 5)
        deleteOrder.take(k).foreach(v =>
          store.delete(f"$v%020d.json"))
        for (v <- 0L to 5L) {
          val intactPrefix = v < 6 - k // manifests v..5-k survive? prefix 0..5-k
          val viaCheckpoint = v == 5L
          if (intactPrefix || viaCheckpoint) {
            assert(ManifestLog.snapshotIn(store, v).files ==
              Seq(s"data/v$v/f.parquet"),
              s"state k=$k version $v must resolve exactly")
          } else {
            intercept[IllegalArgumentException] {
              ManifestLog.snapshotIn(store, v).files
            }
          }
        }
      }
    }
  }

  /** A metadata-rich 2-commit table: every per-file state class the
    * checkpoint carries (single+named stats incl. a double-image tag,
    * string bounds, null counts, long+string blooms, a dv, txns,
    * schema, checks, a commit timestamp). */
  private def buildRich(store: LogStore): Unit = {
    import ManifestLog.{BloomRef, DvRef, FileStat, NullStat, StrStat}
    ManifestLog.commitIn(store, 0,
      Seq("data/a.parquet", "data/b.parquet"), Seq.empty, "write",
      stats = Map("data/a.parquet" -> FileStat(0, 9)),
      colStats = Map("data/a.parquet" ->
        Map("k" -> FileStat(0, 9), "p" -> FileStat(10, 99, dbl = true))),
      blooms = Map("data/b.parquet" -> Map(
        "k" -> BloomRef("k", "data/b.bloom", 64, 4),
        "s" -> BloomRef("s", "data/b.s.bloom", 64, 4, str = true))),
      txn = Some(("w", 1L)),
      schemaDdl = Some("k BIGINT, c STRING"),
      checks = Some(Seq("k_nn" -> "k IS NOT NULL")),
      strColStats = Map("data/b.parquet" ->
        Map("c" -> StrStat("aa", "zz"))),
      nullStats = Map("data/a.parquet" ->
        Map("k" -> NullStat(2, 10))))
    ManifestLog.commitIn(store, 1, Seq("data/c.parquet"), Seq.empty,
      "append", dvs = Map("data/a.parquet" -> DvRef("data/a.dv", 3L)),
      txn = Some(("w", 2L)), commitMs = Some(1700000000000L),
      attest = true)
  }

  for ((label, mk) <- stores) {

    test(s"[$label] PARQUET checkpoints (r19): replay through the " +
        "columnar sidecar equals the legacy all-JSON checkpoint's " +
        "replay field-for-field, before and after manifest pruning, " +
        "and the marked JSON is scalar-only") {
      val pq = mk(); val legacy = mk()
      buildRich(pq); buildRich(legacy)
      ManifestLog.writeCheckpointIn(pq, 1) // parquet default
      ManifestLog.writeCheckpointIn(legacy, 1, parquet = false)
      assert(pq.list().contains(f"${1L}%020d.checkpoint.parquet"))
      assert(!legacy.list().contains(f"${1L}%020d.checkpoint.parquet"))
      val marked = pq.read(f"${1L}%020d.checkpoint.json")
      assert(marked.contains("\"pq\"") &&
        !marked.contains("data/a.parquet"),
        "marked checkpoint must carry scalars only")
      assert(ManifestLog.snapshotIn(pq, 1) == ManifestLog.snapshotIn(legacy, 1),
        "columnar and JSON checkpoint replays diverged")
      // prune every manifest behind the checkpoint on both stores —
      // each checkpoint now resolves alone
      Seq(pq, legacy).foreach(s => (0L to 1L).foreach(v =>
        s.delete(f"$v%020d.json")))
      val a = ManifestLog.snapshotIn(pq, 1)
      val b = ManifestLog.snapshotIn(legacy, 1)
      assert(a == b, s"post-prune replays diverged: $a vs $b")
      assert(a.files == Seq("data/a.parquet", "data/b.parquet",
        "data/c.parquet"), "live-set order must survive the sidecar")
      assert(a.dvs("data/a.parquet").nDeleted == 3L &&
        a.blooms("data/b.parquet")("s").str &&
        a.colStats("data/a.parquet")("p").dbl &&
        a.nullStats("data/a.parquet")("k").nulls == 2L &&
        a.txns == Map("w" -> 2L) &&
        a.schemaDdl.contains("k BIGINT, c STRING") &&
        a.checks == Map("k_nn" -> "k IS NOT NULL"))
      // scalar consumers on the marked checkpoint: time travel + the
      // metadata fold + the dvs-ever bit
      assert(ManifestLog.versionAtTimestampIn(pq, 1700000000001L) == 1L)
      assert(ManifestLog.dvsEverThrough(pq, 1))
    }

    test(s"[$label] a pre-h (8-column) pq sidecar still decodes (r19 " +
        "review finding): the legacy-bloom column was appended after " +
        "the first sidecars shipped, and additive sidecar evolution " +
        "must read them with legacy defaulting to false — never crash " +
        "the page-store lookup") {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val store = mk()
      // forge the original 8-column sidecar layout on disk
      val oldSchema: MessageType = new MessageType("graft_ckpt",
        Types.required(INT32).named("kind"),
        Types.required(BINARY).as(LogicalTypeAnnotation.stringType())
          .named("f"),
        Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
          .named("c"),
        Types.optional(INT64).named("a"),
        Types.optional(INT64).named("b"),
        Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
          .named("s"),
        Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
          .named("t"),
        Types.optional(BOOLEAN).named("g"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_preh")
        .resolve("side.parquet")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(tmp.toString))
        .withType(oldSchema).build()
      val fac = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(oldSchema)
      val g0 = fac.newGroup(); g0.add(0, 0); g0.add(1, "data/x.parquet")
      w.write(g0)
      val g5 = fac.newGroup(); g5.add(0, 5); g5.add(1, "data/x.parquet")
      g5.add(2, "id"); g5.add(3, 1024L); g5.add(4, 4L)
      g5.add(5, "data/x.bloom")
      w.write(g5); w.close()
      store.publishBytes(f"${0L}%020d.checkpoint.parquet",
        java.nio.file.Files.readAllBytes(tmp))
      store.publish(f"${0L}%020d.checkpoint.json",
        """{"version":0,"pq":["1"],"fmt":["2"],"txns":[],"schema":[],""" +
          """"checks":["-"],"at":[],"dvsever":["0"]}""")
      val r = ManifestLog.snapshotIn(store, 0)
      assert(r.files == Seq("data/x.parquet"))
      val ref = r.blooms("data/x.parquet")("id")
      assert(ref.sidecar == "data/x.bloom" && ref.m == 1024 &&
        !ref.str && !ref.legacy,
        s"pre-h sidecar must decode with legacy=false: $ref")
    }

    test(s"[$label] crash BETWEEN sidecar and JSON publish (r19): the " +
        "orphan sidecar is invisible to every reader, and the retry " +
        "completes through the lost-race no-op with an exact replay") {
      val store = mk()
      buildRich(store)
      val before = ManifestLog.snapshotIn(store, 1)
      ManifestLog.writeCheckpointIn(store, 1)
      // simulate the crash window: sidecar landed, JSON (the atomic
      // commit point) and meta sibling never published
      store.delete(f"${1L}%020d.checkpoint.json")
      store.delete(f"${1L}%020d.checkpoint.meta.json")
      assert(ManifestLog.checkpointVersionsIn(store).isEmpty,
        "an orphan sidecar must never surface as a checkpoint")
      assert(ManifestLog.snapshotIn(store, 1) == before)
      // the retry: publishBytes loses to its own orphan (derived
      // state, byte-identical), JSON publish completes the protocol
      ManifestLog.writeCheckpointIn(store, 1)
      assert(ManifestLog.checkpointVersionsIn(store) == Seq(1L))
      (0L to 1L).foreach(v => store.delete(f"$v%020d.json"))
      assert(ManifestLog.snapshotIn(store, 1) == before,
        "retry-after-crash checkpoint must replay exactly")
    }
  }

  test("[posix] torn stage litter on disk is invisible to list/replay " +
      "and swept stage temps never leak into version space") {
    val dir = java.nio.file.Files.createTempDirectory("graft_torn")
      .resolve("_log")
    val store = new PosixLogStore(dir)
    build(store, upTo = 1)
    // a writer died mid-stage: partial JSON under a dot-prefixed temp
    java.nio.file.Files.writeString(
      dir.resolve(".stage-dead.json"), """{"version":2,"op":"torn","ad""")
    // and (protocol violation, but disks happen) an empty non-dot file
    // that matches no manifest/checkpoint name pattern
    java.nio.file.Files.createFile(dir.resolve("garbage.tmp"))
    assert(ManifestLog.versionsIn(store) == Seq(0L, 1L),
      "torn litter must never parse as a version")
    assert(ManifestLog.snapshotIn(store, 1).files == Seq("data/v1/f.parquet"))
    // the staged-but-dead version 2 is still free for the next writer
    ManifestLog.commitIn(store, 2, Seq("data/v2/f.parquet"),
      Seq("data/v1/f.parquet"), "merge")
    assert(ManifestLog.snapshotIn(store, 2).files == Seq("data/v2/f.parquet"))
  }
}
