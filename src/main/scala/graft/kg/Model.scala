package graft.kg

import java.sql.Timestamp

/** Typed row models for the KG-construction pipeline (SURVEY.md §1).
  * `Turn` is exactly the BASELINE.json input_hint shape.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable
    ts: Timestamp)

/** One prompt ready for the batched scorer; `prompt_tokens` is the
  * whitespace token count used by the oversized-prompt guard
  * (reference pt_abstract.py:54-60). */
final case class Prompt(
    conv_id: String,
    turn_idx: Int,
    text: String,
    prompt: String,
    prompt_tokens: Int)

/** Raw scorer output for one turn (one "LLM response" string). */
final case class Scored(
    conv_id: String,
    turn_idx: Int,
    text: String,
    response: String)

/** One detected mention in one turn. */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    mention: String,
    tag: String)

/** One in-turn relation between two mention strings. */
final case class Relation(
    conv_id: String,
    turn_idx: Int,
    subj: String,
    pred: String,
    obj: String)

/** Canonical entity catalogue row (reference Mongo `entities`
  * collection, ketl/mongo/myMongoClient.py:77-80; display name at
  * entityMatching.py:60-62). */
final case class Entity(
    entity_id: String,
    display_name: String,
    entity_type: String)

/** Top-k link proposal for one mention string
  * (entityMatching.py:69-78). */
final case class LinkProposal(
    mention: String,
    entity_id: String,
    entity_name: String,
    jaro_score: Double,
    rank: Int)

/** Post margin-confidence + global normalization
  * (entityMatching.py:82-94). */
final case class LinkMatch(
    mention: String,
    entity_id: String,
    entity_name: String,
    jaro_score: Double,
    confidence: Double,
    accepted: Boolean)

/** Final KG triple. */
final case class Triple(subj: String, pred: String, obj: String)

/** Per-stage pipeline metrics row (north rule: every stage writes
  * lineage + metrics), from [[KGPipeline.Result.stageMetrics]].
  * `wall_ms` is the wall of the Spark action that ran the stage, which
  * fused stages share: link's collect runs prompts, extract, verify and
  * link; the first action over the triples (a count, or the sink's
  * write) runs materialize. Canonicalize runs no action: its wall is
  * the driver's union-find. */
final case class StageMetric(
    run_id: String,
    stage: String,
    rows_in: Long,
    rows_out: Long,
    dropped: Long,
    wall_ms: Long)

/** Flattened document-label version row (reference
  * myMongoClient.py:123-142). */
final case class LabelVersion(
    doc_id: String,
    label_name: String,
    label_value: String,
    confidence: Double,
    model: String,
    created_on: Timestamp)
