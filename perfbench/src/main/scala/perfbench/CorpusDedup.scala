package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.Registry
import graft.ops.{Dedup, TextOps, VectorOps}
import graft.sources.Readers

/** The LLM-curation path: one op runs exact dedup, prefix-filtered
  * near-dup and capped-IVF kNN as the public registry queries over a
  * generated documents/embeddings directory; traced ops add MinHash
  * near-dup. Checks: the exact groups match the planted copies, the
  * near-dup queries return every planted pair and nothing below the
  * threshold, and the IVF top-3 is scored against the exact top-3 the
  * generator computed. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import ctx.spark

  private val sets = ctx.truth.get("sets")
  private val warmPlan = Seq("warm", "warm", "warm", "main")
  val warmOps = warmPlan.size
  val minOps = 1

  private def lines(p: String) =
    Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty)
      .map(_.split(' ').map(_.toLong))
  private val planted = Seq("warm", "main").map { s =>
    s -> lines(s"${ctx.inputs}/$s/pairs_truth.txt")
      .map(a => (a(0), a(1))).toSet }.toMap
  private val knnTruth = Seq("warm", "main").map { s =>
    s -> lines(s"${ctx.inputs}/$s/knn_truth.txt").toVector }.toMap

  // document texts, only loaded if a query returns a pair the generator
  // did not plant (which must then clear the threshold on its own)
  private lazy val texts: Map[Long, Set[String]] =
    Readers.table(spark, s"${ctx.inputs}/main", "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val w = r.getString(1).split(" ", -1)
        r.getLong(0) -> w.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.toMap
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (texts(a), texts(b))
    (x & y).size.toDouble / (x | y).size
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }
  private def query(name: String, dir: String) =
    Registry.byName(name).run(spark, dir).collect()

  private def runOp(set: String, traced: Boolean): Op = {
    val dir = s"${ctx.inputs}/$set"
    val t = sets.get(set)
    val layer = Map.newBuilder[String, Double]
    if (traced) {
      val (_, ms) = timed(Readers.table(spark, dir, "documents")
        .select(col("doc_id"),
          TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
        .write.format("noop").mode("overwrite").save())
      layer += "textops.shingle_ms" -> ms
    }
    val t0 = System.nanoTime()
    val (exact, exactMs) = timed(query("pipeline_dedup_exact", dir))
    graft.Caches.clearAll(spark)
    val (prefix, prefixMs) = timed(query("pipeline_dedup_prefix", dir))
    graft.Caches.clearAll(spark)
    val (knn, ivfMs) = timed(query("pipeline_knn_ivf", dir))
    val ms = (System.nanoTime() - t0) / 1e6
    // MinHash runs on traced ops only: it would double the op's time and
    // the run budget has no room for that (see NOTES.md)
    val minhash = if (!traced) None else {
      graft.Caches.clearAll(spark)
      Some(timed(query("pipeline_dedup_minhash", dir)))
    }

    val problems = Seq.newBuilder[String]
    val docs = t.get("docs").asLong
    if (exact.length != t.get("exact_groups").asLong ||
        exact.map(_.getAs[Long]("n_copies")).sum != docs)
      problems += s"exact groups ${exact.length}"
    val truthPairs = planted(set)
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val pp = pairs(prefix)
    val mp = minhash.fold(pp)(m => pairs(m._1))
    val prefixRecall = (pp & truthPairs).size.toDouble / truthPairs.size
    val minhashRecall = (mp & truthPairs).size.toDouble / truthPairs.size
    if (prefixRecall < 1.0) problems += s"prefix recall $prefixRecall"
    if (minhashRecall < 1.0) problems += s"minhash recall $minhashRecall"
    val extra = ((pp | mp) -- truthPairs).toSeq
    if (set == "main" && extra.exists { case (a, b) => jaccard(a, b) < 0.8 })
      problems += s"pairs below threshold among ${extra.size} unplanted"
    val truthKnn = knnTruth(set)
    val byVec = knn.groupBy(_.getAs[Long]("vec_id"))
    if (byVec.size != truthKnn.size || byVec.values.exists(_.length != 3))
      problems += s"knn rows for ${byVec.size} vectors"
    val hits = byVec.map { case (v, rs) =>
      val exactTop = truthKnn(v.toInt).toSet
      rs.count(r => exactTop(r.getAs[Long]("neighbor_id")))
    }.sum
    val knnRecall = hits.toDouble / (3L * truthKnn.size)
    val bad = problems.result()
    if (bad.nonEmpty) ctx.log(s"corpus checks failed: $bad")

    if (traced) {
      graft.Caches.clearAll(spark)
      // the MinHash candidate set on its own, to grade the LSH pruning
      val sh = Readers.table(spark, dir, "documents").select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 3))
          .as("shingle"))
      val cands = Dedup.lshCandidates(
        Dedup.minhashBands(sh, "doc_id", "shingle"), "doc_id").count()
      layer ++= Seq("dedup.exact_ms" -> exactMs,
        "dedup.prefix_ms" -> prefixMs, "dedup.minhash_ms" -> minhash.get._2,
        "vector.ivf_ms" -> ivfMs,
        "dedup.candidate_pairs" -> cands.toDouble,
        "dedup.verified_pairs" -> mp.size.toDouble,
        "dedup.candidate_precision" -> mp.size.toDouble / cands,
        "near_dup_recall" -> math.min(prefixRecall, minhashRecall),
        "knn_recall" -> knnRecall,
        "vector.pairs_scored" -> pairsScored(dir))
    }
    Op(ms, t.get("input_rows").asLong, bad.isEmpty,
      samples = Map("knn_recall" -> Seq(knnRecall),
        "near_dup_recall" -> Seq(math.min(prefixRecall, minhashRecall)),
        "query_ms" -> Seq(exactMs, prefixMs, ivfMs)),
      layer = layer.result())
  }

  /** Ordered vector pairs the capped IVF search scores: every pair inside
    * one (label, sub-cell), with the query's own sub-cell split. */
  private def pairsScored(dir: String): Double = {
    val emb = Readers.table(spark, dir, "embeddings").select("vec_id", "label")
    val sizes = emb.groupBy("label").agg(count(lit(1)).as("cell_n"))
    emb.join(sizes, "label")
      .withColumn("sub", VectorOps.subCell(col("vec_id"), "cell_n", 64))
      .groupBy("label", "sub").agg(count(lit(1)).as("n"))
      .agg(sum(col("n") * (col("n") - 1))).head().getLong(0).toDouble
  }

  def warm(i: Int): Op = runOp(warmPlan(i),
    traced = false)
  def op(i: Int, traced: Boolean): Op = runOp("main", traced)

  override def between(): Unit = graft.Caches.clearAll(spark)

  def endToEnd(ops: Seq[Op]): Map[String, Double] =
    Seq("knn_recall", "near_dup_recall")
      .map(k => k -> ops.map(_.samples(k).head).min).toMap

  def layers(traced: Seq[Op]): Map[String, Double] =
    traced.flatMap(_.layer.keys).distinct.filterNot(Main.Generic)
      .map(k => k -> Stats.median(traced.map(_.layer(k)))).toMap

  override def details: Map[String, Any] = Map("sets" -> sets.toString)
}
