package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.kg.{Extraction, KGPipeline, LinkMatch, Mention, Triple, Turn, TranscriptGen}

/** Structured Streaming lift of the extraction stage (SURVEY §2.10).
  * The per-turn chain is stateless once the scorer/few-shot index is
  * frozen, so the SAME fused operator (parse → verify → relations)
  * runs on a streaming Dataset[Turn] unchanged — `readStream` →
  * transforms → `writeStream`. Windowed counts of the parsed mentions
  * of prompted turns demonstrate watermark + event-time aggregation
  * over the `ts` column. Every path here prompts turns through the
  * batch prompt guard, so dropped turns are dropped on both sides.
  * (The reference has no streaming — its Flask endpoint is a
  * mutex-serialized request/response server, app.py:63-68 — so this
  * is the documented optional extension, not a parity requirement.)
  */
object StreamingExtraction {

  /** Stateless streaming extraction: works on any streaming
    * Dataset[Turn] (kafka/file/memory source behind it). */
  def extractionStream(turns: Dataset[Turn], cfg: TranscriptGen.Config): Dataset[Extraction.TurnExtraction] =
    KGPipeline.extract(Extraction.buildPrompts(turns), cfg)

  /** Streaming mentions (exploded). */
  def mentionStream(turns: Dataset[Turn], cfg: TranscriptGen.Config): Dataset[Mention] =
    KGPipeline.verifiedOf(extractionStream(turns, cfg))

  /** Stateful per-conversation extraction state via
    * mapGroupsWithState (the construct canonicalization would need in
    * a fully streaming deployment, SURVEY §2.10): cumulative mention
    * counts and the max turn seen per conversation, updated batch by
    * batch. NO timeout — state grows with |conversations|; production
    * deployments use [[conversationStateExpiring]], which expires idle
    * conversations on event time and removes their state. */
  final case class ConvState(conv_id: String, n_mentions: Long, max_turn: Int)

  def conversationState(turns: Dataset[Turn], cfg: TranscriptGen.Config): Dataset[ConvState] = {
    import turns.sparkSession.implicits._
    extractionStream(turns, cfg)
      .groupByKey(_.conv_id)
      .mapGroupsWithState[ConvState, ConvState] {
        (convId: String, rows: Iterator[Extraction.TurnExtraction],
         state: org.apache.spark.sql.streaming.GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(convId, 0L, -1))
          val batch = rows.toSeq
          val next = ConvState(convId,
            prev.n_mentions + batch.map(_.verified.size).sum,
            math.max(prev.max_turn, if (batch.isEmpty) -1 else batch.map(_.turn_idx).max))
          state.update(next)
          next
      }
  }

  /** [[conversationState]] row with an expiry marker. */
  final case class ConvStateX(conv_id: String, n_mentions: Long, max_turn: Int, expired: Boolean)

  /** Per-conversation state with EVENT-TIME expiry — the state-hygiene
    * form of [[conversationState]]: a conversation idle past
    * `idleTimeoutMs` (no turn newer than watermark − timeout) emits a
    * final `expired = true` row and its state is REMOVED, so streaming
    * state cannot grow without bound. The watermark on `ts` gates both
    * late data and expiry (GroupStateTimeout.EventTimeTimeout). Turns
    * are prompted, scored and extracted per partition before grouping,
    * so the counts are [[conversationState]]'s: the verified mentions
    * of the turns the prompt guard keeps. */
  def conversationStateExpiring(turns: Dataset[Turn], cfg: TranscriptGen.Config,
                                watermark: String = "10 seconds",
                                idleTimeoutMs: Long = 30L * 60 * 1000): Dataset[ConvStateX] = {
    import turns.sparkSession.implicits._
    turns
      .mapPartitions(Extraction.scoreTurns(_, cfg).map { case (t, s) =>
        (t.conv_id, t.turn_idx, t.ts, Extraction.extractRow(s, cfg).verified.size.toLong)
      })
      .toDF("conv_id", "turn_idx", "ts", "n_verified")
      .withWatermark("ts", watermark)
      .as[(String, Int, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[ConvStateX, ConvStateX](
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (convId: String, rows: Iterator[(String, Int, java.sql.Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[ConvStateX]) =>
          if (state.hasTimedOut) {
            val prev = state.get
            state.remove() // hygiene: expired conversations leave NO state behind
            prev.copy(expired = true)
          } else {
            val prev = state.getOption.getOrElse(ConvStateX(convId, 0L, -1, expired = false))
            val batch = rows.toSeq
            val next = ConvStateX(convId, prev.n_mentions + batch.map(_._4).sum,
              math.max(prev.max_turn, if (batch.isEmpty) -1 else batch.map(_._2).max),
              expired = false)
            state.update(next)
            // expire once the watermark passes the last activity + idle
            // (empty batch — the case the max_turn guard above codes
            // for — must not .max an empty Seq)
            val lastActivity = math.max(
              if (batch.isEmpty) Long.MinValue else batch.map(_._3.getTime).max,
              state.getCurrentWatermarkMs())
            state.setTimeoutTimestamp(lastActivity + idleTimeoutMs)
            next
          }
      }
  }

  /** Streaming triple materialization against a FROZEN canonical map —
    * the deployment split: linking + canonicalization run in batch
    * over the accumulated store and publish a (surface → canonical)
    * map; the per-turn stream materializes triples against the latest
    * published map in a stateless narrow pass (broadcast lookup, no
    * stream-side join). Global triple dedup is the batch compactor's
    * job — a stream cannot hold unbounded distinct state. */
  def tripleStream(turns: Dataset[Turn], cfg: TranscriptGen.Config,
                   canonical: Map[String, String]): Dataset[Triple] = {
    import turns.sparkSession.implicits._
    val bc = turns.sparkSession.sparkContext.broadcast(canonical)
    // shared triple vocabulary with the batch path — KGPipeline.triplesOf
    // is the single definition, so batch and stream can never drift
    extractionStream(turns, cfg).flatMap(e => KGPipeline.triplesOf(e, bc.value))
  }

  /** One mention string's current canonical entity assignment. */
  final case class LinkAssignment(mention: String, entity_id: String, confidence: Double)

  /** Streaming incremental entity-link assignment via
    * flatMapGroupsWithState — the construct a streaming
    * canonicalization needs (SURVEY §2.10). Per mention string, state
    * holds the best accepted link seen so far (highest confidence,
    * ties → min entity id); a row is emitted ONLY when the assignment
    * changes, so the output is a sameAs-delta stream a downstream
    * catalogue can apply incrementally. Transitive closure stays a
    * batch concern (Canonicalize.canonicalMap over the accumulated
    * links) — the documented batch/stream boundary. */
  def linkAssignmentStream(links: Dataset[LinkMatch]): Dataset[LinkAssignment] = {
    import links.sparkSession.implicits._
    links
      .filter(_.accepted)
      .groupByKey(_.mention)
      .flatMapGroupsWithState[LinkAssignment, LinkAssignment](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (mention: String, rows: Iterator[LinkMatch],
         state: org.apache.spark.sql.streaming.GroupState[LinkAssignment]) =>
          val batchBest = rows.map(l => (l.confidence, l.entity_id))
            .reduceOption { (a, b) =>
              if (a._1 > b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
            }
          batchBest match {
            case None => Iterator.empty
            case Some((conf, eid)) =>
              val better = state.getOption.forall(p =>
                conf > p.confidence || (conf == p.confidence && eid < p.entity_id))
              if (better && !state.getOption.exists(p => p.entity_id == eid)) {
                val next = LinkAssignment(mention, eid, conf)
                state.update(next)
                Iterator.single(next)
              } else if (better) {
                // same entity, higher confidence: refresh state, no delta
                state.update(LinkAssignment(mention, eid, conf))
                Iterator.empty
              } else Iterator.empty
          }
      }
  }

  /** Event-time windowed mention counts per tag with a watermark —
    * the aggregation shape a monitoring sink would run. The counts are
    * the parsed mentions of prompted turns (the batch
    * `KGPipeline.mentionsOf` rows); event time is carried through the
    * per-partition scoring (no stream-stream join needed). */
  def windowedMentionCounts(turns: Dataset[Turn], cfg: TranscriptGen.Config,
                            window: String = "10 minutes",
                            watermark: String = "30 minutes"): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    val tagged = turns
      .mapPartitions(Extraction.scoreTurns(_, cfg).flatMap { case (t, s) =>
        Extraction.parsedOf(s).map { case (_, tag) => (t.ts, tag) }
      })
      .toDF("ts", "tag")
    tagged
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("tag"))
      .agg(count(lit(1)).as("n_mentions"))
  }

  /** A timestamped document event (the streaming shape of the
    * `documents` table). */
  final case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming lift of the corpus-clean pass (operators.CleanCorpus):
    * repetition gate, quality gate and PII redaction run as the SAME
    * pure kernels the batch operator uses (TextOps.repetitionOf,
    * TextAnalytics.quality, Privacy.redactString) in one stateless
    * map; decontamination checks each redacted doc's word shingles
    * against a broadcast benchmark shingle set (eval sets are small
    * by contract, so the set fits on every executor — the streaming
    * analogue of the batch broadcast join); exact dedup becomes
    * `dropDuplicatesWithinWatermark` on the content md5, which bounds
    * the dedup state to the watermark horizon.
    *
    * Documented semantic delta vs batch: dedup keeps the FIRST
    * ARRIVAL of a text, not the min doc_id (on a stream, first-seen
    * is the natural representative), and only duplicates within the
    * watermark horizon collapse. Near-dup (MinHash) dedup stays a
    * batch/stream boundary. */
  def cleanDocStream(docs: Dataset[DocEvent], benchmark: Seq[String], shingleN: Int,
                     minQuality: Double = 0.3, minWords: Int = 5,
                     watermark: String = "10 minutes"): Dataset[DocEvent] = {
    val spark = docs.sparkSession
    import spark.implicits._
    def shingles(text: String): Iterator[String] =
      graft.functions.TextAnalytics.pipelineWords(if (text == null) "" else text)
        .sliding(shingleN).withFilter(_.length == shingleN).map(_.mkString(" ")).iterator
    val benchSet = benchmark.flatMap(shingles).toSet
    val bc = spark.sparkContext.broadcast(benchSet)
    docs
      .mapPartitions(_.flatMap { d =>
        val q = graft.functions.TextAnalytics.quality(if (d.text == null) "" else d.text)
        val rep = graft.operators.TextOps.repetitionOf(d.doc_id, d.text)
        if (rep.repetitive == 1 || q.score < minQuality || q.nWords < minWords) None
        else {
          val red = graft.operators.Privacy.redactString(d.text)
          if (shingles(red).exists(bc.value.contains)) None
          else Some(DocEvent(d.doc_id, d.ts, red))
        }
      })
      .withColumn("__h", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__h")
      .as[DocEvent]
  }
}
