package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ManifestLog.{DvRef, LogicalConflict}
import LogKit.ReplayMaps

/** The optimistic serializable commit protocol (r16): losers of the
  * physical version race REBASE when winners are logically disjoint
  * and fail with LogicalConflict when a winner removed or vectored a
  * file in their footprint. Pins: the racing-appenders case (all
  * succeed, one version each, union state), the single-writer rebase,
  * every conflict rule (remove-vs-read, remove-vs-remove, dv-vs-read,
  * remove-vs-dv), and append-vs-reader write-serializable tolerance. */
class CommitProtocolSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def newRoot(): String = graft.TempDirs.deleteOnExit(
    Files.createTempDirectory("graft_ser")).toString

  /** Lands a one-row parquet file under `sub` and returns its paths. */
  private def land(root: String, sub: String, k: Long): Seq[String] = {
    import spark.implicits._
    Seq((k, k * 10L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/$sub")
    ManifestLog.partFiles(root, sub)
  }

  test("8 racing blind appenders: every txn commits exactly once, " +
      "the final state is the union, and versions are a dense range") {
    val root = newRoot()
    val adds = (0 until 8).map(i => land(root, s"data/t$i", i.toLong))
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    (0 until 8).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          latch.await()
          got.add(LogKit.commitSerializable(root, readVersion = -1L,
            adds = adds(i), removes = Seq.empty, op = "append"))
        }
      })
    }
    latch.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    val versions = scala.jdk.CollectionConverters
      .CollectionHasAsScala(got).asScala.toSeq.sorted
    assert(versions == (0L to 7L), s"got $versions")
    assert(ManifestLog.filesAsOf(root, 7).toSet == adds.flatten.toSet)
  }

  test("a loser with a disjoint footprint rebases the SAME actions " +
      "to the next free version — no recomputation") {
    val root = newRoot()
    val a = land(root, "data/a", 1L)
    // writer W read snapshot -1 and prepared an append; meanwhile two
    // other commits land
    LogKit.commit(root, 0, land(root, "data/x", 2L), Seq.empty, "w")
    LogKit.commit(root, 1, land(root, "data/y", 3L), Seq.empty, "w")
    val v = LogKit.commitSerializable(root, readVersion = -1L,
      adds = a, removes = Seq.empty, op = "append")
    assert(v == 2L)
    assert(ManifestLog.filesAsOf(root, 2).size == 3)
  }

  test("winner REMOVES a file in the loser's footprint → " +
      "LogicalConflict for readers, removers and vector writers") {
    val root = newRoot()
    val f = land(root, "data/v0", 1L)
    LogKit.commit(root, 0, f, Seq.empty, "write")
    // the winner compacts f away
    LogKit.commit(root, 1, land(root, "data/v1", 1L), removes = f,
      op = "rewrite")
    // loser 1: computed FROM f (readFiles) — stale
    intercept[LogicalConflict] {
      LogKit.commitSerializable(root, readVersion = 0L,
        adds = land(root, "data/d1", 9L), removes = Seq.empty,
        op = "append", readFiles = f.toSet)
    }
    // loser 2: also removing f — double rewrite
    intercept[LogicalConflict] {
      LogKit.commitSerializable(root, readVersion = 0L,
        adds = land(root, "data/d2", 9L), removes = f, op = "rewrite")
    }
    // loser 3: vectoring f — vector computed against a retired file
    intercept[LogicalConflict] {
      LogKit.commitSerializable(root, readVersion = 0L,
        adds = Seq.empty, removes = Seq.empty, op = "delete",
        dvs = Map(f.head -> DvRef(s"${f.head}.v9.dv", 1)))
    }
  }

  test("winner VECTORS a file in the loser's footprint → " +
      "LogicalConflict; disjoint appends still rebase past it") {
    val root = newRoot()
    val f = land(root, "data/v0", 5L)
    LogKit.commit(root, 0, f, Seq.empty, "write")
    ManifestLog.deleteWhereMor(spark, root, 0, 1, col("k") === 5L)
    // loser read f at v0 — the winner's DV invalidated those rows
    intercept[LogicalConflict] {
      LogKit.commitSerializable(root, readVersion = 0L,
        adds = land(root, "data/d", 9L), removes = Seq.empty,
        op = "append", readFiles = f.toSet)
    }
    // write-serializable: a blind append never conflicts with the DV
    val v = LogKit.commitSerializable(root, readVersion = 0L,
      adds = land(root, "data/ok", 9L), removes = Seq.empty,
      op = "append")
    assert(v == 2L)
  }

  test("appendChecked composes the three write seams: constraint " +
      "gate before landing, single-pass stats in the commit, " +
      "serializable publish past interleaved winners") {
    import spark.implicits._
    val root = newRoot()
    val v0 = ManifestLog.appendChecked(spark,
      Seq((1L, 10L)).toDF("k", "v").coalesce(1), root, "data/b0",
      statsCols = Seq("k"))
    assert(v0 == 0L)
    LogKit.commit(root, 1, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("v_pos" -> "v > 0")))
    // a violating batch dies at the gate, landing nothing
    intercept[IllegalArgumentException] {
      ManifestLog.appendChecked(spark,
        Seq((2L, -5L)).toDF("k", "v").coalesce(1), root, "data/bad",
        statsCols = Seq("k"))
    }
    assert(ManifestLog.latestVersion(root).contains(1L))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data/bad")) ||
      ManifestLog.partFiles(root, "data/bad").isEmpty ||
      ManifestLog.filesAsOf(root, 1).forall(!_.startsWith("data/bad")))
    // a clean batch lands with stats; an interleaved winner between
    // its snapshot and publish costs only a rebase
    val racerAdds = land(root, "data/racer", 7L)
    // the racer attests: since r17 a stats-less add on a constrained
    // table is refused at commit time unless row-validated
    val t = new Thread(() => LogKit.commitSerializable(root, 1L,
      racerAdds, Seq.empty, op = "append", attest = true))
    t.start(); t.join()
    val v = ManifestLog.appendChecked(spark,
      Seq((3L, 30L)).toDF("k", "v").coalesce(1), root, "data/b3",
      statsCols = Seq("k"))
    assert(v == 3L)
    assert(ManifestLog.snapshot(root, v).colStats.values
      .exists(_.get("k").exists(st => st.min == 3L && st.max == 3L)))
    assert(ManifestLog.readVersion(spark, root, v).count() == 3)
  }

  private def rowsAt(root: String, v: Long): Set[(Long, Long)] = {
    import spark.implicits._
    ManifestLog.readVersion(spark, root, v).as[(Long, Long)].collect().toSet
  }

  test("two appendChecked calls into ONE sub keep both versions: every " +
      "writeFiles call mints its own file-name token, so v1 never " +
      "overwrites the file v0 committed") {
    import spark.implicits._
    val root = newRoot()
    val v0 = ManifestLog.appendChecked(spark,
      Seq((1L, 10L)).toDF("k", "v").coalesce(1), root, "data/s",
      statsCols = Seq("k"), bloomCol = Some("k"))
    val v1 = ManifestLog.appendChecked(spark,
      Seq((2L, 20L)).toDF("k", "v").coalesce(1), root, "data/s",
      statsCols = Seq("k"), bloomCol = Some("k"))
    assert((v0, v1) == ((0L, 1L)))
    assert(rowsAt(root, 0) == Set((1L, 10L)))
    assert(rowsAt(root, 1) == Set((1L, 10L), (2L, 20L)))
    assert(ManifestLog.readVersionPoint(spark, root, 1, "k", 1L)
      .filter(col("k") === 1L).count() == 1)
  }

  test("a CHECK-violating appendChecked into a used sub leaves v0 " +
      "readable: the reject path deletes only the files it wrote") {
    import spark.implicits._
    val root = newRoot()
    ManifestLog.appendChecked(spark,
      Seq((1L, 10L)).toDF("k", "v").coalesce(1), root, "data/s",
      statsCols = Seq("k"), bloomCol = Some("k"))
    LogKit.commit(root, 1, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("v_pos" -> "v > 0")))
    intercept[IllegalArgumentException] {
      ManifestLog.appendChecked(spark,
        Seq((2L, -5L)).toDF("k", "v").coalesce(1), root, "data/s",
        statsCols = Seq("k"), bloomCol = Some("k"))
    }
    assert(ManifestLog.latestVersion(root).contains(1L))
    assert(rowsAt(root, 0) == Set((1L, 10L)))
    assert(rowsAt(root, 1) == Set((1L, 10L)))
  }

  test("commit-time CHECK enforcement (r17): a direct commitIn whose " +
      "adds cannot prove the constraint set is refused on BOTH log " +
      "stores; stats that prove it pass; attest and declaration " +
      "commits are exempt") {
    val roots = Seq(
      ManifestLog.storeFor(newRoot()),
      new InMemoryLogStore)
    roots.foreach { store =>
      // v0 declares (ALTER-style: the declarer validates) WITH an add
      LogKit.commitIn(store, 0, Seq("data/f0.parquet"), Seq.empty,
        op = "write", checks = Some(Seq("v_pos" -> "v > 0")))
      // a stats-less add on the constrained table is refused loudly
      val e = intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
          op = "append")
      }
      assert(e.getMessage.contains("v_pos"))
      // stats that CANNOT prove it (min 0 < lo 1) are refused too
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
          op = "append", colStats = Map("data/f1.parquet" ->
            Map("v" -> ManifestLog.FileStat(0L, 10L))))
      }
      assert(ManifestLog.versionsIn(store) == Seq(0L),
        "refused commits must leave the log untouched")
      // stats inside the constraint interval PROVE it — commit passes
      LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
        op = "append", colStats = Map("data/f1.parquet" ->
          Map("v" -> ManifestLog.FileStat(5L, 10L))))
      // an IS NOT NULL constraint cannot be proven by RANGE stats
      // (bounds fold over non-null rows only) — without a null count
      // (r18) only attest carries an add past it
      LogKit.commitIn(store, 2, Seq.empty, Seq.empty, op = "checks",
        checks = Some(Seq("v_set" -> "v IS NOT NULL")))
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
          op = "append", colStats = Map("data/f3.parquet" ->
            Map("v" -> ManifestLog.FileStat(5L, 10L))))
      }
      LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
        op = "append", attest = true)
      assert(ManifestLog.versionsIn(store) == (0L to 3L))
    }
  }

  test("commit-time CHECK enforcement proves STRING constraints from " +
      "UTF-8 string bounds (r17): in-range bounds pass, straddling " +
      "or missing bounds are refused, equality needs a constant file") {
    val store = ManifestLog.storeFor(newRoot())
    LogKit.commitIn(store, 0, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("lang_band" -> "lang >= 'de' AND lang < 'zz'")))
    def strStats(f: String, lo: String, hi: String) =
      Map(f -> Map("lang" -> ManifestLog.StrStat(lo, hi)))
    // bounds inside the band prove the constraint
    LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
      op = "append", strColStats = strStats("data/f1.parquet", "en", "fr"))
    // a straddling lower bound cannot prove it
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append",
        strColStats = strStats("data/f2.parquet", "aa", "fr"))
    }
    // the exclusive upper bound is exact for proofs: max == 'zz' fails
    // `lang < 'zz'`, max == 'zy' passes
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append",
        strColStats = strStats("data/f2.parquet", "en", "zz"))
    }
    LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
      op = "append", strColStats = strStats("data/f2.parquet", "en", "zy"))
    // bound-less adds are refused (attest path unchanged)
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
        op = "append")
    }
    // string EQUALITY: only a constant file proves it
    LogKit.commitIn(store, 3, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("one_lang" -> "lang = 'en'")))
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 4, Seq("data/f4.parquet"), Seq.empty,
        op = "append",
        strColStats = strStats("data/f4.parquet", "en", "fr"))
    }
    LogKit.commitIn(store, 4, Seq("data/f4.parquet"), Seq.empty,
      op = "append", strColStats = strStats("data/f4.parquet", "en", "en"))
    assert(ManifestLog.versionsIn(store) == (0L to 4L))
  }

  test("commit-time CHECK enforcement is TYPED (r17): double-image " +
      "stats prove fractional AND integral constraints in image " +
      "space; untagged stats never prove a fractional constraint; " +
      "and an integral proof can never pass over image stats — the " +
      "ordering-mismatch hole double stats opened is closed") {
    val key = ManifestFileIndex.dblKey _
    val store = ManifestLog.storeFor(newRoot())
    LogKit.commitIn(store, 0, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("price_floor" -> "price >= 0.5")))
    def dblStats(f: String, lo: Double, hi: Double) =
      Map(f -> Map("price" ->
        ManifestLog.FileStat(key(lo), key(hi), dbl = true)))
    // tagged image bounds inside the constraint prove it
    LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
      op = "append", colStats = dblStats("data/f1.parquet", 0.5, 99.25))
    // a violating batch (min 0.25 < 0.5) refuses
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append",
        colStats = dblStats("data/f2.parquet", 0.25, 99.0))
    }
    // untagged (raw-long) stats can never prove a FRACTIONAL
    // constraint — the refusal is type-driven, not numeric luck
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append", colStats = Map("data/f2.parquet" ->
          Map("price" -> ManifestLog.FileStat(1L, 99L))))
    }
    // an INTEGRAL-literal constraint on a double column proves in
    // image space too — the same coercion Spark applies to
    // `double_col >= 5` (this declaration replaces the set)
    LogKit.commitIn(store, 2, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("price_min5" -> "price >= 5")))
    LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
      op = "append", colStats = dblStats("data/f3.parquet", 5.5, 9.0))
    // THE HOLE: a small positive double's image is a huge positive
    // long (image(0.25) >> 5), so an UNTYPED "price >= 5" proof
    // would PASS this violating batch; the tag forces image
    // arithmetic, which refuses it
    assert(key(0.25) > 5L,
      "precondition: small-double images are huge positive longs")
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 4, Seq("data/f4.parquet"), Seq.empty,
        op = "append", colStats = dblStats("data/f4.parquet", 0.25, 0.5))
    }
    // the tag round-trips through manifest replay AND checkpoint fold
    ManifestLog.writeCheckpointIn(store, 3)
    val st =
      ManifestLog.snapshotIn(store, 3).colStats("data/f3.parquet")("price")
    assert(st == ManifestLog.FileStat(key(5.5), key(9.0), dbl = true))
  }

  test("the CHECK gate survives retention through the checkpoint's " +
      "KB-sized metadata sibling (r18; the log-scale probe's commit " +
      "cliff), and a sibling-less checkpoint — the crash window " +
      "between the two publishes — falls back to the full read") {
    val store = ManifestLog.storeFor(newRoot())
    LogKit.commitIn(store, 0, Seq.empty, Seq.empty, op = "init",
      checks = Some(Seq("v_pos" -> "v > 0")))
    LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
      op = "append", colStats = Map("data/f1.parquet" ->
        Map("v" -> ManifestLog.FileStat(1L, 9L))))
    ManifestLog.writeCheckpointIn(store, 1)
    assert(store.list().contains(
      f"${1L}%020d.checkpoint.meta.json"),
      "the checkpoint must publish its metadata sibling")
    // prune the manifests: the constraint set now lives only in the
    // checkpoint (+ sibling) — the gate must still see it
    (0L to 1L).foreach(v => store.delete(f"$v%020d.json"))
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append", colStats = Map("data/f2.parquet" ->
          Map("v" -> ManifestLog.FileStat(0L, 9L))))
    }
    LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
      op = "append", colStats = Map("data/f2.parquet" ->
        Map("v" -> ManifestLog.FileStat(2L, 9L))))
    // crash window: the sibling never landed — the gate falls back
    // to the full checkpoint and enforces identically
    store.delete(f"${1L}%020d.checkpoint.meta.json")
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
        op = "append", colStats = Map("data/f3.parquet" ->
          Map("v" -> ManifestLog.FileStat(0L, 9L))))
    }
    LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
      op = "append", colStats = Map("data/f3.parquet" ->
        Map("v" -> ManifestLog.FileStat(3L, 9L))))
  }

  test("IS NOT NULL constraints PROVE from null counts (r18; retires " +
      "the non-range attest fallback for the common shape): a " +
      "zero-null add passes unattested, a null-bearing add refuses, " +
      "count-less adds stay attest-only, and the typed mixed path " +
      "composes range + IS NOT NULL in one constraint") {
    val store = ManifestLog.storeFor(newRoot())
    LogKit.commitIn(store, 0, Seq.empty, Seq.empty, op = "init",
      schemaDdl = Some("k BIGINT, v BIGINT"),
      checks = Some(Seq("v_set" -> "v IS NOT NULL")))
    // a zero-null count is an exact proof (NULL IS NOT NULL = FALSE,
    // so a null row violates; nulls = 0 means none can)
    LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
      op = "append", nullStats = Map("data/f1.parquet" ->
        Map("v" -> ManifestLog.NullStat(0L, 10L))))
    // a null-bearing batch refuses
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append", nullStats = Map("data/f2.parquet" ->
          Map("v" -> ManifestLog.NullStat(1L, 10L))))
    }
    // range stats alone cannot carry the proof (bounds fold over
    // NON-null rows and say nothing about nulls)
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 2, Seq("data/f2.parquet"), Seq.empty,
        op = "append", colStats = Map("data/f2.parquet" ->
          Map("v" -> ManifestLog.FileStat(5L, 10L))))
    }
    // mixed shape through the typed path: range AND not-null
    LogKit.commitIn(store, 2, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("v_both" -> "v >= 0 AND v IS NOT NULL")))
    LogKit.commitIn(store, 3, Seq("data/f3.parquet"), Seq.empty,
      op = "append",
      colStats = Map("data/f3.parquet" ->
        Map("v" -> ManifestLog.FileStat(0L, 10L))),
      nullStats = Map("data/f3.parquet" ->
        Map("v" -> ManifestLog.NullStat(0L, 10L))))
    intercept[IllegalArgumentException] {
      LogKit.commitIn(store, 4, Seq("data/f4.parquet"), Seq.empty,
        op = "append",
        colStats = Map("data/f4.parquet" ->
          Map("v" -> ManifestLog.FileStat(0L, 10L))),
        nullStats = Map("data/f4.parquet" ->
          Map("v" -> ManifestLog.NullStat(2L, 10L))))
    }
    assert(ManifestLog.versionsIn(store) == (0L to 3L))
  }

  test("mixed-type CHECK proofs resolve column types from the " +
      "committed schemaDdl (r18; retires the 8.3.4-12 attest " +
      "fallback): a constraint over an integral AND a fractional AND " +
      "a string column proves when every per-column obligation holds " +
      "under its OWN stat type, refuses when any one fails, and " +
      "stays attest-only on tables that never declared — on BOTH " +
      "log stores") {
    val key = ManifestFileIndex.dblKey _
    val mixed = "qty >= 10 AND price <= 0.5 AND grade >= 'b'"
    def proving(f: String) = (
      Map(f -> Map(
        "qty" -> ManifestLog.FileStat(10L, 99L),
        "price" -> ManifestLog.FileStat(key(0.01), key(0.5),
          dbl = true))),
      Map(f -> Map("grade" -> ManifestLog.StrStat("b", "zz"))))
    Seq(ManifestLog.storeFor(newRoot()),
        new InMemoryLogStore: LogStore).foreach { store =>
      LogKit.commitIn(store, 0, Seq.empty, Seq.empty, op = "init",
        schemaDdl =
          Some("qty BIGINT, price DOUBLE, grade STRING"),
        checks = Some(Seq("mixed" -> mixed)))
      // every obligation proven under its own type → commit passes
      val (cs1, ss1) = proving("data/f1.parquet")
      LogKit.commitIn(store, 1, Seq("data/f1.parquet"), Seq.empty,
        op = "append", colStats = cs1, strColStats = ss1)
      // REFUSE direction, one failing obligation per type family:
      // integral out of bounds
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 2, Seq("data/f2.parquet"),
          Seq.empty, op = "append",
          colStats = Map("data/f2.parquet" -> Map(
            "qty" -> ManifestLog.FileStat(9L, 99L),
            "price" -> ManifestLog.FileStat(key(0.01), key(0.5),
              dbl = true))),
          strColStats = Map("data/f2.parquet" ->
            Map("grade" -> ManifestLog.StrStat("b", "zz"))))
      }
      // fractional out of bounds (image arithmetic, not raw-long luck)
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 2, Seq("data/f2.parquet"),
          Seq.empty, op = "append",
          colStats = Map("data/f2.parquet" -> Map(
            "qty" -> ManifestLog.FileStat(10L, 99L),
            "price" -> ManifestLog.FileStat(key(0.01), key(0.75),
              dbl = true))),
          strColStats = Map("data/f2.parquet" ->
            Map("grade" -> ManifestLog.StrStat("b", "zz"))))
      }
      // string bound below the atom
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 2, Seq("data/f2.parquet"),
          Seq.empty, op = "append",
          colStats = Map("data/f2.parquet" -> Map(
            "qty" -> ManifestLog.FileStat(10L, 99L),
            "price" -> ManifestLog.FileStat(key(0.01), key(0.5),
              dbl = true))),
          strColStats = Map("data/f2.parquet" ->
            Map("grade" -> ManifestLog.StrStat("az", "zz"))))
      }
      // a WRONG-TYPE proof never passes: qty's bound committed as a
      // dbl image (image(10.0) sits inside [10, ...] in NEITHER
      // ordering consistently — the typed gate must refuse, not
      // compare across orderings)
      intercept[IllegalArgumentException] {
        LogKit.commitIn(store, 2, Seq("data/f2.parquet"),
          Seq.empty, op = "append",
          colStats = Map("data/f2.parquet" -> Map(
            "qty" -> ManifestLog.FileStat(key(10.0), key(99.0),
              dbl = true),
            "price" -> ManifestLog.FileStat(key(0.01), key(0.5),
              dbl = true))),
          strColStats = Map("data/f2.parquet" ->
            Map("grade" -> ManifestLog.StrStat("b", "zz"))))
      }
      assert(ManifestLog.versionsIn(store) == Seq(0L, 1L),
        "refused commits must leave the log untouched")
    }
    // an UNDECLARED table cannot resolve the mix — attest-only, as
    // before (the typed path needs the schema the log never got)
    val bare = ManifestLog.storeFor(newRoot())
    LogKit.commitIn(bare, 0, Seq.empty, Seq.empty, op = "init",
      checks = Some(Seq("mixed" -> mixed)))
    val (csB, ssB) = proving("data/f1.parquet")
    intercept[IllegalArgumentException] {
      LogKit.commitIn(bare, 1, Seq("data/f1.parquet"), Seq.empty,
        op = "append", colStats = csB, strColStats = ssB)
    }
    LogKit.commitIn(bare, 1, Seq("data/f1.parquet"), Seq.empty,
      op = "append", attest = true)
  }

  test("a winner that DECLARES metadata (schema or checks) between a " +
      "txn's snapshot and its publish raises LogicalConflict — the " +
      "loser's validation premises are stale (r17 advice)") {
    val root = newRoot()
    LogKit.commit(root, 0, land(root, "data/v0", 1L), Seq.empty,
      op = "write")
    // loser prepared a blind append against v0; a winner then declares
    // a constraint set at v1
    val loserAdds = land(root, "data/loser", 2L)
    LogKit.commit(root, 1, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("v_pos" -> "v > 0")))
    val e = intercept[LogicalConflict] {
      LogKit.commitSerializable(root, readVersion = 0L,
        adds = loserAdds, removes = Seq.empty, op = "append",
        attest = true)
    }
    assert(e.getMessage.contains("metadata"))
    // same for a schema declaration
    val root2 = newRoot()
    LogKit.commit(root2, 0, land(root2, "data/v0", 1L), Seq.empty,
      op = "write")
    val loser2 = land(root2, "data/loser", 2L)
    LogKit.commit(root2, 1, Seq.empty, Seq.empty, op = "evolve",
      schemaDdl = Some("k BIGINT, v BIGINT, w BIGINT"))
    intercept[LogicalConflict] {
      LogKit.commitSerializable(root2, readVersion = 0L,
        adds = loser2, removes = Seq.empty, op = "append")
    }
    // a loser whose snapshot ALREADY includes the declaration rebases
    // fine past later disjoint data winners
    LogKit.commit(root2, 2, land(root2, "data/w", 3L), Seq.empty,
      op = "append")
    val v = LogKit.commitSerializable(root2, readVersion = 2L,
      adds = loser2, removes = Seq.empty, op = "append")
    assert(v == 3L)
  }

  test("appendChecked is ONE pass (r17): a violating batch lands " +
      "nothing and leaves no orphan files; the violation count is " +
      "folded by the writer, not a separate scan") {
    import spark.implicits._
    val root = newRoot()
    LogKit.commit(root, 0, Seq.empty, Seq.empty, op = "checks",
      checks = Some(Seq("v_pos" -> "v > 0", "k_cap" -> "k < 100")))
    val e = intercept[IllegalArgumentException] {
      ManifestLog.appendChecked(spark,
        Seq((1L, -5L), (200L, 3L), (2L, 4L)).toDF("k", "v").coalesce(1),
        root, "data/bad", statsCols = Seq("k"))
    }
    assert(e.getMessage.contains("v_pos") &&
      e.getMessage.contains("k_cap"))
    assert(ManifestLog.latestVersion(root).contains(0L))
    // the aborted landing unlinked its files — no vacuum debt
    assert(ManifestLog.partFiles(root, "data/bad").isEmpty)
  }

  test("deleteWhereMorRetrying re-derives on logical conflict: two " +
      "threads vectoring the SAME file both commit, serialized, and " +
      "the final state excludes both delete sets") {
    import spark.implicits._
    val root = newRoot()
    (0L until 10L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write")
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    Seq(col("k") === 2L || col("k") === 3L, col("k") === 7L).foreach { p =>
      pool.submit(new Runnable {
        def run(): Unit = {
          latch.await()
          try got.add(ManifestLog.deleteWhereMorRetrying(spark, root, p))
          catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    latch.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, errs)
    val versions = scala.jdk.CollectionConverters
      .CollectionHasAsScala(got).asScala.toSeq.sorted
    assert(versions == Seq(1L, 2L), s"got $versions")
    // serialized result: both predicates applied exactly once
    val rows = ManifestLog.readVersion(spark, root, 2)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(0L, 1L, 4L, 5L, 6L, 8L, 9L))
    // the final vector is the union (the loser folded the winner's)
    assert(ManifestLog.snapshot(root, 2).dvs.head._2.nDeleted == 3)
    // v1 (whichever delete won) removed exactly its own set
    assert(ManifestLog.readVersion(spark, root, 1).count() >= 8)
  }

  test("mergeMorRetrying re-derives on logical conflict (r17): two " +
      "threads upserting disjoint rows of the SAME file both commit, " +
      "serialized — post-images recomputed, vectors folded, nothing " +
      "resurrected or double-applied") {
    import spark.implicits._
    val root = newRoot()
    (0L until 10L).map(k => (k, k * 10L)).toDF("k", "v").coalesce(1)
      .write.parquet(s"$root/data/v0")
    LogKit.commit(root, 0, ManifestLog.partFiles(root, "data/v0"),
      Seq.empty, op = "write")
    val latch = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    Seq(
      (col("k") % 3 === 0, // 0, 3, 6, 9 → v += 1000
        (d: org.apache.spark.sql.DataFrame) =>
          d.withColumn("v", col("v") + 1000L)),
      (col("k") % 3 === 1, // 1, 4, 7 → v += 5000
        (d: org.apache.spark.sql.DataFrame) =>
          d.withColumn("v", col("v") + 5000L))
    ).foreach { case (p, f) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          latch.await()
          try got.add(ManifestLog.mergeMorRetrying(spark, root, p, f,
            statsCols = Seq("k")))
          catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    latch.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, errs)
    val versions = scala.jdk.CollectionConverters
      .CollectionHasAsScala(got).asScala.toSeq.sorted
    assert(versions == Seq(1L, 2L), s"got $versions")
    // serialized result: row count preserved, each correction applied
    // exactly once — an illegal rebase would have REPLACED the
    // winner's vector (resurrecting its matched rows as duplicates)
    val rows = ManifestLog.readVersion(spark, root, 2)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    val expect = (0L until 10L).map { k =>
      val base = k * 10L
      (k, if (k % 3 == 0) base + 1000L
          else if (k % 3 == 1) base + 5000L else base)
    }
    assert(rows == expect)
    // the base file's final vector is the union of both matched sets
    assert(ManifestLog.snapshot(root, 2).dvs
      .filter { case (f, _) => f.startsWith("data/v0") }
      .values.map(_.nDeleted).sum == 7L)
    // the loser's post-image files re-derived against the winner's
    // snapshot: the merged table still time-travels (v1 = winner only)
    assert(ManifestLog.readVersion(spark, root, 1).count() == 10)
  }
}
