package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** In-engine training for the hashed-feature linear quality classifier
  * (pipeline_quality_classifier) — replaces the round-≤10 stand-in
  * weight formula with weights LEARNED from the corpus, keeping the
  * repo-wide cross-engine exactness rule: every training step is
  * integer arithmetic whose result is independent of row order and
  * partitioning, so DuckDB replays the identical computation
  * bit-for-bit.
  *
  * The pipeline is the classic model-based-filter bootstrap (CCNet /
  * FineWeb shape): a cheap trusted LABELER — here the stopword-ratio
  * heuristic, y = +1 iff 100·n_stop ≥ 6·n_tok over a 7-word lexicon —
  * provides supervision, and a hashed bag-of-words model is fit to
  * generalize it. The trained model is a per-bucket CLASS-RATE
  * DIFFERENCE discriminant:
  *
  *   w_b = (S·pos_b) div pos_tot − (S·neg_b) div neg_tot
  *
  * (pos_b/neg_b = bucket-b token occurrences in docs labeled +1/−1,
  * pos_tot/neg_tot = class token totals, S = [[Scale]]) — the
  * centroid-difference linear classifier in token-rate space, the
  * integer-exact cousin of multinomial Naive Bayes (rate DIFFERENCE
  * instead of log-likelihood RATIO: logs are transcendental, their
  * bit-patterns are not portable across engines, rates are).
  * Closed-form in ONE aggregation pass — no gradient iteration to
  * diverge or oscillate (a batch perceptron was tried and oscillates:
  * summing every misclassified doc per round swings the dense count
  * features class-to-class; measured 0.56 train accuracy vs 0.90 for
  * this form at sf0.001).
  *
  * Scoring normalizes per token (score = S'·(w·x) div n_tok — the
  * labeler's concept is a RATIO, so the per-token mean removes the
  * doc-length confound), and the keep set is CALIBRATED, not
  * thresholded at an arbitrary constant: keep the top-n docs by score
  * where n = the labeler's own positive count — quantile calibration
  * to the trusted labeler's accept rate, computed exactly with the
  * two-phase [[Ids.orderedId]] rank (no single-task global window at
  * 100 TB).
  *
  * Scale posture: training is one narrow tokenize/hash pass + one
  * [[Buckets]]-key aggregation (map-side combine leaves ≤ Buckets rows
  * per partition) collecting ≤ [[Buckets]] weight rows — metadata-sized
  * driver state, like SkewWindows' per-language offsets. Inference
  * bakes the learned table into ONE ArrayData literal (`typedlit`, a
  * single constant object — not 4096 codegen'd literal children) and
  * stays zero-shuffle codegen'd higher-order functions; the only wide
  * stages are the calibration rank's range exchange and the output
  * sort. Bucket count matters: at 64 buckets the 7 stopwords collide
  * into 2 impure buckets and even the BAYES-OPTIMAL linear weights
  * test at 0.78 — 4096 buckets keep this corpus' vocabulary near-pure
  * per bucket (measured 1.00 separability, 0.90 trained accuracy).
  */
object HashedLinear {

  val Buckets = 4096
  val Scale = 1000000L
  /** The trusted labeler's lexicon (quality-heuristic stopwords). */
  val Stopwords: Seq[String] =
    Seq("a", "the", "of", "and", "in", "to", "is")

  /** Per-token bucket array of a text column — the codegen'd one-pass
    * expression ([[graft.functions.TokenBucketsExpr]]; the HOF
    * formulation in [[bucketsExprSql]] evaluates interpreted, one lambda
    * frame + single-char allocation per character — measured at 3× the
    * cost of the scan+split it decorates). Bit-equal to the HOF twin by
    * construction and by test pin. */
  def bucketsCol(textCol: String): Column =
    graft.functions.TextExpressions.tokenBuckets(col(textCol), Buckets)

  /** SQL-expression string for the per-token bucket array of a text
    * column: char-polynomial hash (acc·31 + ascii, mod 1000003) of each
    * whitespace token, folded into [0, Buckets). The higher-order twin
    * of [[bucketsCol]] — kept as the differential reference and as the
    * formulation the DuckDB oracles transliterate. */
  def bucketsExprSql(textCol: String): String =
    s"""transform(split($textCol, ' '),
          t -> aggregate(transform(split(t, ''), c -> CAST(ascii(c) AS BIGINT)),
                 CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % 1000003)
               % $Buckets)"""

  /** The trusted labeler: +1 iff the stopword ratio clears 6%. */
  def labelCol(textCol: String): Column = {
    val toks = split(col(textCol), " ")
    val nStop = size(filter(toks, t => t.isInCollection(Stopwords)))
    when(lit(100) * nStop >= lit(6) * size(toks), 1L).otherwise(-1L)
  }

  /** Closed-form training: one aggregation pass over a PREP frame that
    * already carries the ±1 label (`yCol`) and bucket array (`bkCol`) —
    * the caller computes (and persists) that frame once so training,
    * calibration and inference share a single tokenization pass instead
    * of re-hashing the corpus per stage. Returns the bucket→weight
    * table. EAGER (one Spark job): the weights must be in hand before
    * the caller bakes them into the inference literal. */
  def trainRateDiff(prep: DataFrame, yCol: String,
      bkCol: String): Array[Long] = {
    val counts = prep
      .select(col(yCol).as("__y"), explode(col(bkCol)).as("__b"))
      .groupBy("__b")
      .agg(sum(when(col("__y") === 1L, 1L).otherwise(0L)).as("__pc"),
        sum(when(col("__y") === -1L, 1L).otherwise(0L)).as("__nc"))
      .collect()
    val posTot = math.max(counts.map(_.getLong(1)).sum, 1L)
    val negTot = math.max(counts.map(_.getLong(2)).sum, 1L)
    val w = Array.fill(Buckets)(0L)
    // nonnegative operands: truncating and flooring division agree,
    // so Scala /, Spark div and DuckDB // all replay this identically
    counts.foreach { r =>
      w(r.getLong(0).toInt) =
        Scale * r.getLong(1) / posTot - Scale * r.getLong(2) / negTot
    }
    w
  }

  /** Raw dot product of a doc's bucket array against the learned table
    * — the zero-shuffle inference expression, emitted as the codegen'd
    * [[graft.functions.BucketDotExpr]] (the DuckDB oracles replay it as
    * an interpreted higher-order fold; the custom expression runs inside
    * whole-stage codegen with identical arithmetic — OpsSpec pins it
    * bit-equal to that fold). */
  def scoreColumn(buckets: Column, weights: Array[Long]): Column =
    graft.functions.BucketDotExpr.bucketDot(buckets, weights)
}
