package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics

/** DataFrame-level text-analysis operators: language ID, quality
  * scoring, token counting, fingerprinting. Each is a single narrow
  * typed-map stage (no shuffle); the cheap counters additionally
  * exist as pure built-in-function queries (RelationalQueries q11/q20)
  * so the parquet scan keeps whole-stage codegen where possible.
  */
object TextOps {

  final case class TextProfile(
      doc_id: Long,
      lang_pred: String,
      n_chars: Int,
      n_words: Int,
      tok_ws: Int,
      tok_bpe: Int,
      alpha_ratio: Double,
      digit_ratio: Double,
      punct_ratio: Double,
      stopword_ratio: Double,
      avg_word_len: Double,
      quality: Double,
      simhash_hex: String,
      n_fingerprints: Int,
      min_fingerprint: Long,
      has_verb: Boolean,
      numeric_keep: Boolean)

  /** Full per-doc profile in one pass over the text. */
  def profile(docs: DataFrame, idCol: String, textCol: String): Dataset[TextProfile] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0
          val q = TextAnalytics.quality(text)
          val fps = TextAnalytics.winnow(text)
          TextProfile(
            id,
            TextAnalytics.langId(text),
            q.nChars, q.nWords,
            TextAnalytics.tokenCountWs(text),
            TextAnalytics.tokenCountBpeIsh(text),
            q.alphaRatio, q.digitRatio, q.punctRatio, q.stopwordRatio,
            q.avgWordLen, q.score,
            f"${TextAnalytics.simhash64(text)}%016x",
            fps.length,
            if (fps.isEmpty) 0L else fps.min,
            TextAnalytics.hasVerb(text),
            TextAnalytics.numericRatioKeep(text))
        }
      }
  }

  /** Document fingerprint postings (winnowing): one row per (doc,
    * fingerprint) — self-join on fingerprint finds copied passages. */
  def fingerprintPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, t) =>
        TextAnalytics.winnow(if (t == null) "" else t).map(fp => (id, fp))
      }
      .toDF("doc_id", "fingerprint")
  }

  final case class RepetitionProfile(
      doc_id: Long,
      n_words: Int,
      distinct_word_ratio: Double,
      top2gram_frac: Double,
      top3gram_frac: Double,
      dup5gram_frac: Double,
      repetitive: Int)

  /** Gopher-style within-document repetition signals (Rae et al. 2021
    * §A1.1.2 "repetition removal", adapted to word-slot fractions):
    *  - distinct_word_ratio — vocabulary collapse detector;
    *  - top{2,3}gram_frac — fraction of n-gram slots taken by the
    *    single most frequent word {2,3}-gram (loop detector);
    *  - dup5gram_frac — fraction of 5-gram slots whose 5-gram occurs
    *    more than once (long-span copy detector);
    *  - repetitive — 1 when any signal crosses its gate (thresholds
    *    are this library's, documented here: top2>0.20, top3>0.18,
    *    dup5>0.30, distinct<0.20).
    * One narrow typed-map pass, no shuffle; per-doc hash counting is
    * O(words). All ratios are exact integer divisions rounded to 6
    * decimals on both engines (q41 oracle twin). */
  private def gramCounts(ws: Array[String], n: Int): scala.collection.mutable.HashMap[String, Int] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    var i = 0
    while (i + n <= ws.length) {
      val g = ws.slice(i, i + n).mkString(" ")
      counts.update(g, counts.getOrElse(g, 0) + 1)
      i += 1
    }
    counts
  }
  private def topFrac(ws: Array[String], n: Int): Double = {
    val slots = ws.length - n + 1
    if (slots <= 0) 0.0
    else gramCounts(ws, n).valuesIterator.max.toDouble / slots
  }
  private def dupFrac(ws: Array[String], n: Int): Double = {
    val slots = ws.length - n + 1
    if (slots <= 0) 0.0
    else gramCounts(ws, n).valuesIterator.filter(_ > 1).sum.toDouble / slots
  }
  private def r6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Pure per-text repetition kernel — the single definition both
    * [[repetitionProfile]] and the fused gates of `CleanCorpus.clean`
    * share. */
  def repetitionOf(id: Long, text0: String): RepetitionProfile = {
    val ws = TextAnalytics.pipelineWords(if (text0 == null) "" else text0).toArray
    val nw = ws.length
    val distinctR = if (nw == 0) 0.0 else ws.distinct.length.toDouble / nw
    val top2 = topFrac(ws, 2)
    val top3 = topFrac(ws, 3)
    val dup5 = dupFrac(ws, 5)
    val gate = top2 > 0.20 || top3 > 0.18 || dup5 > 0.30 || (nw > 0 && distinctR < 0.20)
    RepetitionProfile(id, nw, r6(distinctR), r6(top2), r6(top3), r6(dup5),
      if (gate) 1 else 0)
  }

  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String): Dataset[RepetitionProfile] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => repetitionOf(id, text) })
  }

  /** Per-document distinct word n-gram shingles: one row per
    * (doc, shingle). Deduped INSIDE the flatMap (LinkedHashSet per
    * doc) — no shuffle; the distinct is local because shingles of one
    * doc live in one row's task. */
  private def wordShingles(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = TextAnalytics.pipelineWords(if (t == null) "" else t)
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        ws.sliding(n).withFilter(_.length == n).foreach(g => seen += g.mkString(" "))
        seen.iterator.map(s => (id, s))
      }
      .toDF("doc_id", "shingle")
  }

  /** Benchmark decontamination diagnostic (the n-gram-overlap check a
    * training pipeline runs against eval sets before training; see
    * e.g. GPT-3 appendix C / Dodge et al. 2021 C4 analysis): for each
    * corpus doc sharing at least one word n-gram with any benchmark
    * doc, the count of distinct shared shingles and of benchmark docs
    * hit. The benchmark side is deduped then BROADCAST — eval sets are
    * orders of magnitude smaller than a training corpus, so the join
    * is shuffle-free on the corpus side; at 100 TB the corpus scan
    * stays narrow (shingle → broadcast-hash-join → partial-agg).
    * Real pipelines use n = 8-13; callers pick n (the q42 query uses
    * 3 so the synthetic corpus actually collides). */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val c = wordShingles(corpus, idCol, textCol, n)
    val b = wordShingles(benchmark, idCol, textCol, n)
      .withColumnRenamed("doc_id", "bench_id")
    c.join(broadcast(b), "shingle")
      .groupBy("doc_id")
      .agg(countDistinct("shingle").as("n_shared"),
        countDistinct("bench_id").as("n_bench_docs"))
  }

  /** The decontamination FILTER: corpus rows whose doc shares no word
    * n-gram with the benchmark. Only the BENCHMARK shingle side is
    * broadcast (eval sets are small by contract); the contaminated-id
    * set derives from the CORPUS and scales with corpus contamination,
    * so the anti-join strategy is left to AQE — a forced broadcast
    * there can OOM executors at the 100-TB design point. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // leaner than contaminationStats for the FILTER purpose: no
    // per-doc counts, just the distinct contaminated-id set
    val bad = wordShingles(corpus, idCol, textCol, n)
      .join(broadcast(wordShingles(benchmark, idCol, textCol, n).select("shingle")), "shingle")
      .select(col("doc_id").as("__bad_id")).distinct()
    corpus.join(bad, corpus(idCol).cast("long") === col("__bad_id"), "left_anti")
  }
}
