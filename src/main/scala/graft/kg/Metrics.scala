package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Evaluation metrics reproducing the reference's scoring exactly
  * (ner/process_results.py:95-116 + sklearn weighted
  * precision_recall_fscore_support with zero_division=0).
  */
object Metrics {

  /** Per-turn prediction/gold alignment — the dict-keyed full-outer
    * merge of get_metrics_all (process_results.py:95-108):
    *   gold_nes    = dict(gold)               (last tag wins per mention)
    *   res_san     = predictions with tag != 'None'
    *   results_nes = dict(res_san)
    *   rows        = res_san ++ gold rows whose mention ∉ results_nes
    *   y_true(n)   = gold_nes.get(mention, 'None')
    *   y_pred(n)   = results_nes.get(mention, 'None')
    * Implemented as a cogroup per (conv_id, turn_idx) that applies
    * [[alignTurn]] to each group.
    */
  def align(pred: Dataset[Mention], gold: Dataset[Mention]): Dataset[(String, String)] = {
    val spark = pred.sparkSession
    import spark.implicits._
    pred.groupByKey(m => (m.conv_id, m.turn_idx))
      .cogroup(gold.groupByKey(m => (m.conv_id, m.turn_idx))) { case (_, ps, gs) =>
        alignTurn(ps.map(m => (m.mention, m.tag)).toSeq, gs.map(m => (m.mention, m.tag)).toSeq)
      }
  }

  /** [[align]]'s rule for one turn's (mention, tag) predictions and
    * gold: (y_true, y_pred) per aligned mention. Both sides are sorted
    * by (mention, tag) for determinism (the reference relies on Python
    * list order; only duplicate-mention multi-tag rows could differ,
    * and scoring is dict-keyed anyway). */
  private[kg] def alignTurn(pred: Seq[(String, String)], gold: Seq[(String, String)]): List[(String, String)] = {
    val results = pred.toList.sortBy(identity)
    val goldL = gold.toList.sortBy(identity)
    val goldNes = goldL.toMap
    val resSan = results.filter(_._2 != "None")
    val resultsNes = resSan.toMap
    val rows = resSan ++ goldL.filter { case (m, _) => !resultsNes.contains(m) }
    rows.map { case (mention, _) =>
      (goldNes.getOrElse(mention, "None"), resultsNes.getOrElse(mention, "None"))
    }
  }

  final case class PRF(precision: Double, recall: Double, f1: Double, support: Long)

  /** Weighted P/R/F1 over (y_true, y_pred) label pairs — exactly
    * sklearn's average='weighted', zero_division=0
    * (process_results.py:113): per-label metrics weighted by y_true
    * support; labels = every label present in y_true (support-0
    * labels carry weight 0). The heavy part (pair counting) is a
    * distributed groupBy; only the ≤(|tags|+1)² count matrix is
    * collected. */
  def weightedPRF(pairs: Dataset[(String, String)]): PRF = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val counts = pairs.groupByKey(identity).count().collect()
    prfFromCounts(counts.map { case ((t, p), c) => (t, p, c) })
  }

  /** The labeled (y_true × y_pred) count matrix AS A FRAME — the
    * structure get_metrics/show_cm_multi consume
    * (ner/process_results.py:70-116, plotted :24-55). Until round 4
    * the counts existed only as the bounded driver-side collect
    * inside [[weightedPRF]]; this exposes the same single
    * distributed groupBy as a queryable Dataset (pivot to the square
    * matrix via q33's explicit-values pattern when needed). */
  def confusionFrame(pairs: Dataset[(String, String)]): DataFrame = {
    pairs.toDF("y_true", "y_pred")
      .groupBy("y_true", "y_pred")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
  }

  def prfFromCounts(counts: Seq[(String, String, Long)]): PRF = {
    val byTrue = counts.groupBy(_._1).map { case (l, cs) => l -> cs.map(_._3).sum }
    val byPred = counts.groupBy(_._2).map { case (l, cs) => l -> cs.map(_._3).sum }
    val diag = counts.collect { case (t, p, c) if t == p => t -> c }.toMap
    val labels = byTrue.keySet
    var num_p, num_r, num_f = 0.0
    var totalSupport = 0L
    labels.foreach { l =>
      val support = byTrue(l)
      val tp = diag.getOrElse(l, 0L).toDouble
      val predTotal = byPred.getOrElse(l, 0L).toDouble
      val p = if (predTotal == 0) 0.0 else tp / predTotal
      val r = if (support == 0) 0.0 else tp / support
      val f = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
      num_p += support * p; num_r += support * r; num_f += support * f
      totalSupport += support
    }
    if (totalSupport == 0) PRF(0, 0, 0, 0)
    else PRF(num_p / totalSupport, num_r / totalSupport, num_f / totalSupport, totalSupport)
  }

  /** The same weighted-F1 as a typed Aggregator (UDAF surface,
    * SURVEY §2.9): buffer = pair-count map, merge = map union. */
  class WeightedF1Agg extends Aggregator[(String, String), Map[(String, String), Long], Double] {
    def zero: Map[(String, String), Long] = Map.empty
    def reduce(b: Map[(String, String), Long], a: (String, String)): Map[(String, String), Long] =
      b.updated(a, b.getOrElse(a, 0L) + 1L)
    def merge(b1: Map[(String, String), Long], b2: Map[(String, String), Long]): Map[(String, String), Long] =
      b2.foldLeft(b1) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    def finish(b: Map[(String, String), Long]): Double =
      prfFromCounts(b.toSeq.map { case ((t, p), c) => (t, p, c) }).f1
    def bufferEncoder: Encoder[Map[(String, String), Long]] =
      Encoders.kryo[Map[(String, String), Long]]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Set-based triple precision/recall (the north rule's P/R≥0.95
    * gate): exact set intersection via joins. */
  def triplePR(pred: Dataset[Triple], gold: Dataset[Triple]): PRF = {
    val p = pred.distinct().cache()
    val g = gold.distinct().cache()
    val nP = p.count()
    val nG = g.count()
    val inter = p.joinWith(g,
      p("subj") === g("subj") && p("pred") === g("pred") && p("obj") === g("obj"),
      "inner").count()
    val precision = if (nP == 0) 0.0 else inter.toDouble / nP
    val recall = if (nG == 0) 0.0 else inter.toDouble / nG
    val f1 = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    p.unpersist(); g.unpersist()
    PRF(precision, recall, f1, nG)
  }

  /** Distributed ROC AUC (evaluating_confidence.py:152-165, sklearn
    * roc_curve+auc semantics with average-rank tie handling) via the
    * rank-sum closed form:
    *   AUC = Σ_g np_g·(cumNegBelow_g + nn_g/2) / (NP·NN)
    * over per-score groups g ascending. The heavy pass is the
    * distributed groupBy(score); the cumulative window runs over the
    * GROUPED frame, whose size is |distinct QUANTIZED scores| —
    * scores are rounded to `precision` decimals INSIDE this operator
    * (default 6), so the single-partition window frame is bounded at
    * ≲2·10^precision rows for unit-interval confidences no matter how
    * unbounded the caller's raw scores are (round-2 verdict: the old
    * contract merely ASKED callers to round). Pre-rounded callers are
    * unaffected (round is idempotent at coarser precision). Returns a
    * 1-row (auc) frame. */
  def aucFrame(points: DataFrame, labelCol: String, scoreCol: String,
               precision: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val g = quantizedScoreCounts(points, labelCol, scoreCol, precision)
    val w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cumneg", coalesce(sum("nn").over(w), lit(0L)))
      .agg(
        // single-class input → AUC undefined → null (sklearn raises;
        // a distributed operator must degrade, not emit NaN/Infinity)
        when(sum("np") === 0 || sum("nn") === 0, lit(null).cast("double"))
          .otherwise(sum(col("np") * (col("cumneg") + col("nn") / 2.0)) /
            (sum("np") * sum("nn"))).as("auc"))
  }

  /** Shared grouped frame for the ROC family: per quantized score,
    * positive/negative counts. The groupBy is the only full-data pass;
    * everything downstream runs over ≤|distinct quantized scores|
    * rows. */
  private def quantizedScoreCounts(points: DataFrame, labelCol: String,
                                   scoreCol: String, precision: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    points.groupBy(round(col(scoreCol), precision).as("s"))
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))
  }

  /** Scalar AUC; single-class input (aucFrame's null) degrades to NaN
    * — the scalar API can't carry null, and getDouble on a null cell
    * would throw instead of degrading. */
  def aucRankSum(points: DataFrame, labelCol: String, scoreCol: String): Double = {
    val row = aucFrame(points, labelCol, scoreCol).head()
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** ROC curve POINTS, not just the AUC scalar — the reference plots
    * sklearn's roc_curve (fpr/tpr/threshold arrays,
    * evaluating_confidence.py:152-165). One row per distinct quantized
    * score, descending threshold:
    *   fpr(t) = #neg with score ≥ t / NN
    *   tpr(t) = #pos with score ≥ t / NP
    * i.e. sklearn roc_curve with drop_intermediate=False, minus the
    * prepended (inf, 0, 0) anchor point (an array artifact, not a
    * measurement; documented divergence). Same scale shape as
    * [[aucFrame]]: one distributed groupBy, then windows over the
    * bounded grouped frame. Single-class inputs degrade: the absent
    * class's rate divides by zero → null rates, never a crash. */
  def rocFrame(points: DataFrame, labelCol: String, scoreCol: String,
               precision: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val g = quantizedScoreCounts(points, labelCol, scoreCol, precision)
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals via an unbounded frame over the SAME grouped rows — no
    // second groupBy pass over the raw points
    val wAll = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cumtp", sum("np").over(w))
      .withColumn("cumfp", sum("nn").over(w))
      .withColumn("npos", sum("np").over(wAll))
      .withColumn("nneg", sum("nn").over(wAll))
      .select(
        col("s").as("threshold"),
        when(col("nneg") === 0, lit(null).cast("double"))
          .otherwise(col("cumfp") / col("nneg")).as("fpr"),
        when(col("npos") === 0, lit(null).cast("double"))
          .otherwise(col("cumtp") / col("npos")).as("tpr"))
  }

  /** Student-t 95% confidence interval over repeated-run scores
    * (ner/utils.py:92-118, consumed at ResultInstance.py:75-87).
    * Two-sided 0.975 quantiles for small df, hardcoded (the reference
    * calls scipy). */
  private val T975 = Array(Double.NaN, 12.706, 4.303, 3.182, 2.776, 2.571,
    2.447, 2.365, 2.306, 2.262, 2.228, 2.201, 2.179, 2.160, 2.145, 2.131,
    2.120, 2.110, 2.101, 2.093, 2.086, 2.080, 2.074, 2.069, 2.064, 2.060,
    2.056, 2.052, 2.048, 2.045, 2.042)

  def tConfidenceInterval(xs: Seq[Double]): (Double, Double, Double) = {
    val n = xs.length
    val mean = xs.sum / n
    if (n < 2) return (mean, mean, mean)
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / (n - 1))
    val t = if (n - 1 < T975.length) T975(n - 1) else 1.96
    val half = t * sd / math.sqrt(n)
    (mean, mean - half, mean + half)
  }
}
