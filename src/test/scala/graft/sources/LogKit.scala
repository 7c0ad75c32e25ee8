package graft.sources

import ManifestLog.{AddFile, BloomRef, CheckpointPolicy, Commit, DvRef,
  FileStat, NullStat, Replay, StrStat}

/** Spec-side builders over the log's record API: commits described by
  * per-file maps keyed by path (the shape most specs build their tables
  * in), and per-column views of a snapshot keyed by path. Entries for a
  * path the commit does not add have no record to live in and are
  * dropped. */
object LogKit {

  def addFiles(paths: Seq[String],
      stats: Map[String, FileStat] = Map.empty,
      colStats: Map[String, Map[String, FileStat]] = Map.empty,
      strColStats: Map[String, Map[String, StrStat]] = Map.empty,
      nullStats: Map[String, Map[String, NullStat]] = Map.empty,
      blooms: Map[String, Map[String, BloomRef]] = Map.empty)
      : Seq[AddFile] =
    paths.map(f => AddFile(f, stats.get(f),
      colStats.getOrElse(f, Map.empty), strColStats.getOrElse(f, Map.empty),
      nullStats.getOrElse(f, Map.empty), blooms.getOrElse(f, Map.empty)))

  def commitIn(store: LogStore, version: Long, adds: Seq[String],
      removes: Seq[String], op: String,
      policy: Option[CheckpointPolicy] = None,
      stats: Map[String, FileStat] = Map.empty,
      colStats: Map[String, Map[String, FileStat]] = Map.empty,
      blooms: Map[String, Map[String, BloomRef]] = Map.empty,
      txn: Option[(String, Long)] = None,
      dvs: Map[String, DvRef] = Map.empty,
      commitMs: Option[Long] = None,
      schemaDdl: Option[String] = None,
      checks: Option[Seq[(String, String)]] = None,
      attest: Boolean = false,
      strColStats: Map[String, Map[String, StrStat]] = Map.empty,
      nullStats: Map[String, Map[String, NullStat]] = Map.empty): Unit =
    ManifestLog.commitIn(store, version, Commit(op,
      addFiles(adds, stats, colStats, strColStats, nullStats, blooms),
      removes, dvs, txn, commitMs, schemaDdl, checks), policy, attest)

  def commit(root: String, version: Long, adds: Seq[String],
      removes: Seq[String], op: String,
      policy: Option[CheckpointPolicy] = None,
      stats: Map[String, FileStat] = Map.empty,
      colStats: Map[String, Map[String, FileStat]] = Map.empty,
      blooms: Map[String, Map[String, BloomRef]] = Map.empty,
      txn: Option[(String, Long)] = None,
      dvs: Map[String, DvRef] = Map.empty,
      commitMs: Option[Long] = None,
      schemaDdl: Option[String] = None,
      checks: Option[Seq[(String, String)]] = None,
      attest: Boolean = false,
      strColStats: Map[String, Map[String, StrStat]] = Map.empty,
      nullStats: Map[String, Map[String, NullStat]] = Map.empty): Unit =
    commitIn(ManifestLog.storeFor(root), version, adds, removes, op,
      policy, stats, colStats, blooms, txn, dvs, commitMs, schemaDdl,
      checks, attest, strColStats, nullStats)

  def commitSerializable(root: String, readVersion: Long,
      adds: Seq[String], removes: Seq[String], op: String,
      readFiles: Set[String] = Set.empty,
      policy: Option[CheckpointPolicy] = None,
      stats: Map[String, FileStat] = Map.empty,
      colStats: Map[String, Map[String, FileStat]] = Map.empty,
      blooms: Map[String, Map[String, BloomRef]] = Map.empty,
      txn: Option[(String, Long)] = None,
      dvs: Map[String, DvRef] = Map.empty,
      commitMs: Option[Long] = None,
      schemaDdl: Option[String] = None,
      checks: Option[Seq[(String, String)]] = None,
      attest: Boolean = false,
      strColStats: Map[String, Map[String, StrStat]] = Map.empty,
      maxRetries: Int = 20,
      nullStats: Map[String, Map[String, NullStat]] = Map.empty): Long =
    ManifestLog.commitSerializable(root, readVersion, Commit(op,
      addFiles(adds, stats, colStats, strColStats, nullStats, blooms),
      removes, dvs, txn, commitMs, schemaDdl, checks), readFiles, policy,
      attest, maxRetries)

  /** The (version, added paths, removed paths) of each commit in
    * (`from`, `to`]. */
  def changesBetween(root: String, from: Long,
      to: Long): Seq[(Long, Seq[String], Seq[String])] =
    ManifestLog.commitsBetween(root, from, to).map { case (v, c) =>
      (v, c.adds.map(_.path), c.removes) }

  /** A snapshot's per-file facts as path-keyed maps; a file without the
    * fact has no entry. */
  implicit final class ReplayMaps(private val r: Replay) extends AnyVal {
    private def byPath[A](f: AddFile => Map[String, A])
        : Map[String, Map[String, A]] =
      r.live.valuesIterator.map(a => a.path -> f(a))
        .filter(_._2.nonEmpty).toMap
    def stats: Map[String, FileStat] =
      r.live.valuesIterator.flatMap(a => a.stat.map(a.path -> _)).toMap
    def colStats: Map[String, Map[String, FileStat]] = byPath(_.colStats)
    def strColStats: Map[String, Map[String, StrStat]] =
      byPath(_.strColStats)
    def nullStats: Map[String, Map[String, NullStat]] = byPath(_.nullStats)
    def blooms: Map[String, Map[String, BloomRef]] = byPath(_.blooms)
    def dvs: Map[String, DvRef] =
      r.live.valuesIterator.flatMap(a => a.dv.map(a.path -> _)).toMap
  }
}
