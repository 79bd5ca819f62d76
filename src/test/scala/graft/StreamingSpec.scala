package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.kg.{TranscriptGen, Turn}
import graft.streaming.StreamingExtraction

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val cfg = TranscriptGen.Config(nConvs = 10)

  private def genTurns(c: Long) =
    (0 until TranscriptGen.turnsFor(c, cfg)).map(TranscriptGen.genTurn(c, _, cfg))

  /** Conversations 0-5 plus the first conversation holding an
    * oversized turn with a real mention, which the prompt guard drops. */
  private lazy val withOversized: Seq[Turn] = {
    val big = Iterator.from(0).map(_.toLong).find(c => genTurns(c).exists(g =>
      g.goldMentions.nonEmpty &&
        graft.functions.TextAnalytics.tokenCountWs(g.turn.text) > TranscriptGen.MaxPromptTokens)).get
    ((0L until 6L) :+ big).distinct.flatMap(genTurns).map(_.turn)
  }

  test("streaming extraction equals batch extraction on the same turns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val turns = (0L until 10L).flatMap { c =>
      (0 until TranscriptGen.turnsFor(c, cfg)).map(t => TranscriptGen.genTurn(c, t, cfg).turn)
    }
    val stream = MemoryStream[Turn]
    stream.addData(turns)

    val mentions = StreamingExtraction.mentionStream(stream.toDS(), cfg)
    val q = mentions.writeStream
      .format("memory").queryName("stream_mentions")
      .outputMode("append")
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination(60000)

    val streamed = spark.table("stream_mentions")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSet

    val batch = graft.kg.KGPipeline.run(spark, turns.toDS(), cfg)
      .verified.collect().map(m => (m.conv_id, m.turn_idx, m.mention, m.tag)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("mapGroupsWithState accumulates per-conversation state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val allTurns = (0L until 6L).flatMap { c =>
      (0 until TranscriptGen.turnsFor(c, cfg)).map(t => TranscriptGen.genTurn(c, t, cfg).turn)
    }
    val (first, second) = allTurns.partition(_.turn_idx < 4)
    val stream = MemoryStream[Turn]
    val states = StreamingExtraction.conversationState(stream.toDS(), cfg)
    val q = states.writeStream
      .format("memory").queryName("conv_state")
      .outputMode("update")
      .start()
    stream.addData(first)
    q.processAllAvailable()
    stream.addData(second)
    q.processAllAvailable()
    q.stop()
    val finalStates = spark.table("conv_state")
      .groupBy("conv_id")
      .agg(org.apache.spark.sql.functions.max("n_mentions").as("n_mentions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // cumulative counts must equal the batch pipeline's per-conv totals
    val batch = graft.kg.KGPipeline.run(spark, allTurns.toDS(), cfg)
      .verified.collect().groupBy(_.conv_id).view.mapValues(_.length.toLong).toMap
    batch.foreach { case (conv, n) =>
      assert(finalStates.get(conv).contains(n), s"$conv: ${finalStates.get(conv)} vs $n")
    }
  }

  test("streaming triples against a frozen canonical map equal the batch triples") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = (0L until 12L).flatMap { c =>
      (0 until TranscriptGen.turnsFor(c, cfg)).map(t => TranscriptGen.genTurn(c, t, cfg).turn)
    }
    // batch run publishes the canonical map (the deployment split)
    val batch = graft.kg.KGPipeline.run(spark, turns.toDS(), cfg)
    val canon = batch.canonicalMap.collect()
      .filter(_.getString(0).startsWith("m:"))
      .map(r => r.getString(0).substring(2) -> r.getString(1)).toMap
    val batchTriples = batch.triples.collect().toSet

    val stream = MemoryStream[Turn]
    // two "arrival batches" of the same turns, BOTH enqueued before
    // start: Trigger.Once + addData-after-start is a planning race
    // (the single batch snapshots whatever has arrived by then);
    // AvailableNow drains every pending block deterministically and
    // still exercises multi-micro-batch arrival
    val (b1, b2) = turns.partition(_.turn_idx % 2 == 0)
    stream.addData(b1); stream.addData(b2)
    val q = StreamingExtraction.tripleStream(stream.toDS(), cfg, canon)
      .writeStream.format("memory").queryName("stream_triples")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_triples").collect()
      .map(r => graft.kg.Triple(r.getString(0), r.getString(1), r.getString(2))).toSet
    // set equality: global distinct is the batch compactor's job
    assert(streamed == batchTriples,
      s"extra=${(streamed -- batchTriples).take(3)} missing=${(batchTriples -- streamed).take(3)}")
    batch.unpersistAll()
  }

  test("event-time timeout expires idle conversation state and removes it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def turnAt(conv: String, idx: Int, text: String, tsMs: Long) =
      Turn(conv, idx, "user", text, null, new java.sql.Timestamp(tsMs))
    val t0 = 1700000000000L
    val hour = 3600L * 1000
    val stream = MemoryStream[Turn]
    val states = StreamingExtraction.conversationStateExpiring(
      stream.toDS(), cfg, watermark = "0 seconds", idleTimeoutMs = 30 * 60 * 1000)
    val q = states.writeStream
      .format("memory").queryName("conv_state_x")
      .outputMode("update")
      .start()
    // batch 1: conv A active at t0
    stream.addData(Seq(
      turnAt("conv-A", 0, "Alice Johnson joined Acme Industries as director .", t0),
      turnAt("conv-A", 1, "Thanks for the update .", t0 + 60000)))
    q.processAllAvailable()
    // batch 2: conv B three hours later — watermark sails past A's
    // idle timeout; A's expiry fires on the NEXT trigger
    stream.addData(Seq(turnAt("conv-B", 0, "The weather in Paris is nice today .", t0 + 3 * hour)))
    q.processAllAvailable()
    // batch 3: more B activity triggers the timed-out A group
    stream.addData(Seq(turnAt("conv-B", 1, "Thanks for the update .", t0 + 3 * hour + 60000)))
    q.processAllAvailable()
    val rows = spark.table("conv_state_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val aExpired = rows.filter(r => r._1 == "conv-A" && r._4)
    assert(aExpired.nonEmpty, s"conv-A must expire; rows=${rows.mkString(", ")}")
    assert(aExpired.head._2 >= 2, "expiry row carries the final cumulative count")
    assert(!rows.exists(r => r._1 == "conv-B" && r._4), "active conv must not expire")

    // state was REMOVED: re-activity on A starts a FRESH count
    stream.addData(Seq(
      turnAt("conv-A", 2, "Bruno Keller joined Deltaware as director .", t0 + 4 * hour)))
    q.processAllAvailable()
    q.stop()
    val fresh = spark.table("conv_state_x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .filter(r => r._1 == "conv-A" && !r._4 && r._3 == 2)
    assert(fresh.nonEmpty)
    val expiredCount = aExpired.head._2
    assert(fresh.head._2 < expiredCount,
      s"fresh state ${fresh.head._2} must not resume the expired count $expiredCount")
  }

  test("flatMapGroupsWithState emits link-assignment deltas only on change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.kg.LinkMatch
    val stream = MemoryStream[LinkMatch]
    val q = StreamingExtraction.linkAssignmentStream(stream.toDS())
      .writeStream.format("memory").queryName("link_deltas")
      .outputMode("update").start()
    // batch 1: Alice→P1 (0.7), Bob→P2 (0.9), plus a rejected link (ignored)
    stream.addData(Seq(
      LinkMatch("Alice", "P1", "Alice J", 0.9, 0.7, accepted = true),
      LinkMatch("Bob", "P2", "Bob K", 0.95, 0.9, accepted = true),
      LinkMatch("Eve", "P9", "Eve X", 0.2, 0.1, accepted = false)))
    q.processAllAvailable()
    val after1 = spark.table("link_deltas").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(after1.toSet == Set(("Alice", "P1", 0.7), ("Bob", "P2", 0.9)))
    // batch 2: better link for Alice → delta; weaker for Bob → silence;
    // same-entity higher confidence for Alice afterwards → silence
    stream.addData(Seq(
      LinkMatch("Alice", "P0", "Alice Johnson", 0.99, 0.95, accepted = true),
      LinkMatch("Bob", "P7", "Bobby", 0.5, 0.4, accepted = true)))
    q.processAllAvailable()
    stream.addData(Seq(
      LinkMatch("Alice", "P0", "Alice Johnson", 0.99, 0.97, accepted = true)))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("link_deltas").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(all.length == 3, s"exactly one extra delta expected, got ${all.mkString(", ")}")
    assert(all.toSet.contains(("Alice", "P0", 0.95)))
    assert(!all.exists(d => d._1 == "Bob" && d._2 == "P7"), "weaker link must not emit")
  }

  test("windowed mention counts with watermark run on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val turns = (0L until 10L).flatMap { c =>
      (0 until TranscriptGen.turnsFor(c, cfg)).map(t => TranscriptGen.genTurn(c, t, cfg).turn)
    }
    val stream = MemoryStream[Turn]
    stream.addData(turns)
    val counts = StreamingExtraction.windowedMentionCounts(stream.toDS(), cfg)
    val q = counts.writeStream
      .format("memory").queryName("stream_counts")
      .outputMode("complete")
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("stream_counts").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("PERSON", "ORG", "GPE")))
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("expiring state counts the batch verified mentions, oversized turn in the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Turn]
    val q = StreamingExtraction.conversationStateExpiring(stream.toDS(), cfg)
      .writeStream.format("memory").queryName("conv_state_x_oversized")
      .outputMode("update").start()
    stream.addData(withOversized)
    q.processAllAvailable()
    q.stop()
    val finalStates = spark.table("conv_state_x_oversized")
      .groupBy("conv_id")
      .agg(org.apache.spark.sql.functions.max("n_mentions").as("n_mentions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.kg.KGPipeline.run(spark, withOversized.toDS(), cfg)
      .verified.collect().groupBy(_.conv_id).view.mapValues(_.length.toLong).toMap
    assert(batch.nonEmpty && finalStates.filter(_._2 > 0) == batch)
  }

  test("windowed counts per tag = batch parsed mentions, oversized turn in the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Turn]
    stream.addData(withOversized)
    val q = StreamingExtraction.windowedMentionCounts(stream.toDS(), cfg)
      .writeStream.format("memory").queryName("stream_counts_oversized")
      .outputMode("complete").trigger(Trigger.Once()).start()
    q.awaitTermination(60000)
    val perTag = spark.table("stream_counts_oversized")
      .groupBy("tag").agg(org.apache.spark.sql.functions.sum("n_mentions"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.kg.KGPipeline.mentionsOf(graft.kg.KGPipeline.extract(
      graft.kg.Extraction.buildPrompts(withOversized.toDS()), cfg))
      .collect().groupBy(_.tag).view.mapValues(_.length.toLong).toMap
    assert(batch.nonEmpty && perTag == batch)
  }

  test("streaming corpus clean matches the batch clean (kernel parity + watermark dedup)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingExtraction.DocEvent
    def prose(tail: String) = s"the quick brown fox jumps over the lazy dog and then it $tail"
    val ts0 = new java.sql.Timestamp(1700000000000L)
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      DocEvent(1L, ts0, prose("went home to sleep quietly under warm blankets tonight")),
      DocEvent(2L, ts0, "go stop go stop go stop go stop go stop go stop go stop go stop"),
      DocEvent(3L, ts0, "tiny doc"),
      DocEvent(4L, ts0, prose("mailed a@b.co about the plan for tomorrow evening meal")),
      DocEvent(5L, ts0, prose("mailed c@d.io about the plan for tomorrow evening meal")),
      DocEvent(6L, ts0, prose("saw alpha beta gamma delta epsilon zeta eta theta appear")))
    val stream = MemoryStream[DocEvent]
    stream.addData(docs)
    val out = StreamingExtraction.cleanDocStream(stream.toDS(), Seq(benchText), shingleN = 8)
    val q = out.writeStream
      .format("memory").queryName("clean_docs")
      .outputMode("append")
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("clean_docs").as[DocEvent].collect()
    // same survivors as the batch operator (the PII twins 4/5 collapse
    // to ONE row — stream keeps first arrival, batch keeps min id, so
    // compare on redacted TEXT sets, which are identical)
    val batch = graft.operators.CleanCorpus.clean(
      docs.toDF().withColumnRenamed("ts", "__ts"),
      Seq((100L, benchText)).toDF("doc_id", "text"),
      "doc_id", "text", minQuality = 0.3, minWords = 5, shingleN = 8)
    assert(got.map(_.text).toSet == batch.select("text").as[String].collect().toSet)
    assert(got.map(_.doc_id).toSet.contains(1L) && got.length == 2)
    assert(got.forall(d => d.text.contains("<EMAIL>") || d.doc_id == 1L))
  }
}
