package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed corpus-cleaning pipeline — the end-to-end pass the
  * individual operators exist for, in the order a production
  * pretraining pipeline runs them:
  *
  *   1. repetition gate   (TextOps.repetitionProfile, q41 semantics)
  *   2. quality gate      (TextAnalytics.quality, q36 formula)
  *   3. PII redaction     (Privacy.redacted, q43 semantics)
  *   4. exact dedup       (md5 groupBy, min-id representative; q13)
  *   5. decontamination   (TextOps broadcast shingle anti-join, q42)
  *
  * Redaction runs BEFORE dedup on purpose: two documents differing
  * only in the PII they leak are the same document after scrubbing
  * and must collapse. Every stage is individually DuckDB-oracled or
  * spec-pinned; the composition itself stays one lazy DAG — gates are
  * left-semi joins against narrow (doc_id)-only frames, so non-text
  * columns flow through untouched and nothing widens the shuffle.
  */
object CleanCorpus {

  /** Cleaned corpus: input rows (all columns, text redacted) that
    * survive all five stages.
    *
    * The two text gates (repetition + quality) run fused in ONE typed
    * pass over (id, text), feeding a single left-semi join; the full
    * TextOps.profile (winnowing, simhash, langid) is deliberately NOT
    * computed here, the gates only need the repetition signals and
    * the quality score. Measured on sf0.1: fusing the gates and
    * skipping the profile roughly halves the q47 wall. */
  def clean(docs: DataFrame, benchmark: DataFrame,
            idCol: String, textCol: String,
            minQuality: Double = 0.3, minWords: Int = 5,
            shingleN: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keepIds = docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t0) =>
        val t = if (t0 == null) "" else t0
        if (TextOps.repetitionOf(id, t).repetitive == 1) None
        else {
          val q = graft.functions.TextAnalytics.quality(t)
          if (q.score >= minQuality && q.nWords >= minWords) Some(id) else None
        }
      }).toDF("__keep_id")
    val gated = docs.join(keepIds, docs(idCol).cast("long") === col("__keep_id"), "left_semi")
    // r6: materialize the gated+redacted corpus ONCE. `scrubbed` has
    // two consumers (the dedup-representative aggregate and the
    // semi-join's stream side), and without the barrier each branch
    // re-ran the whole upstream — the gate kernels, the semi join AND
    // the PII regex redaction (the most CPU-expensive projection in
    // the pipeline) were each evaluated twice per action. At 100 TB
    // the redacted survivor set is also exactly the intermediate a
    // production pipeline persists before dedup; recomputing the
    // regexes is strictly worse than one materialization of rows that
    // are about to be written anyway.
    val scrubbed = gated.withColumn(textCol, Privacy.redacted(col(textCol)))
      .localCheckpoint()
    // exact dedup on the REDACTED text, min-id representative
    val reps = scrubbed
      .select(col(idCol).cast("long").as("__id"), md5(col(textCol)).as("__h"))
      .groupBy("__h").agg(min("__id").as("__rep_id"))
      .select("__rep_id")
    val deduped = scrubbed.join(reps,
      scrubbed(idCol).cast("long") === col("__rep_id"), "left_semi")
    TextOps.decontaminate(deduped, benchmark, idCol, textCol, shingleN)
  }
}
