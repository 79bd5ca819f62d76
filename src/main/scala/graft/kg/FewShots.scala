package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.StringSim

/** Few-shot nearest-neighbor index operators reproducing the
  * reference's two kNN strategies (ner/llm_ner/few_shots_techniques.py):
  *
  *  - sentence-kNN (FST_Sentence, :67-88): cosine of the query
  *    sentence embedding vs every training sentence embedding, top-k
  *    descending; the reference memoizes per distinct sentence
  *    (few_shots_save, :72-80) — we get the same effect with
  *    dropDuplicates on the query text before scoring.
  *  - entity/token-kNN (FST_Entity, :103-124): per query token, top-k
  *    over ALL training token embeddings, merged across tokens by
  *    score descending, deduped by training-row idx keeping first,
  *    then truncated to k.
  *
  * Scale shape: training embeddings are the broadcast side (the
  * few-shot pool is bounded); queries stream through mapPartitions
  * heaps — same design as [[graft.operators.Ann.bruteForceTopK]].
  */
object FewShots {

  final case class Shot(query_id: Long, train_id: Long, sim: Double, rank: Int)

  /** One few-shot example: a train-split sentence with its gold span
    * list rendered in the discussion wire format — what the
    * reference's few_shot_prompt block carries (pt_abstract.py:75-89,
    * few_shots_techniques.py:67-88). `vec` is the deterministic
    * content embedding used for sentence-kNN retrieval; `entityVecs`
    * are the per-gold-mention embeddings the entity/token-kNN arm
    * retrieves against (all_entity_embeddings, FST_Entity :102-124). */
  final case class ShotExample(text: String, output: String, vec: Array[Float],
                               entityVecs: Array[Array[Float]])

  /** Bounded few-shot pools, one per run seed, from ONE collect: turns
    * with ≥1 gold mention, brace-filtered exactly like the reference's
    * few-shot block (pt_abstract.py:84), on the run's TRAIN side of
    * [[Experiments.seededSplit]] (`testPct` 0 keeps every turn),
    * deterministically sampled by content hash (never rand()) down to
    * `poolSize` per run, collected + broadcast by the caller. The
    * bound is the design, not a shortcut: the reference's few-shot
    * index is likewise a frozen, small artifact relative to the corpus
    * being tagged — at 100 TB each pool stays `poolSize` rows while the
    * scan side grows. */
  def buildPools(turns: Dataset[Turn], gold: Dataset[Mention], seeds: Seq[Long],
                 testPct: Int, poolSize: Int): Seq[Array[ShotExample]] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val outputs = gold.groupByKey(m => (m.conv_id, m.turn_idx))
      .mapGroups { (key: (String, Int), it: Iterator[Mention]) =>
        val spans = it.map(m => (m.mention, m.tag)).toList.sortBy(identity)
        // shared wire-format escaping (this site had drifted: it
        // escaped quotes but not backslashes)
        val body = spans.map { case (ne, tag) =>
          s"(${graft.functions.Parsers.pyStr(ne)}, ${graft.functions.Parsers.pyStr(tag)})"
        }.mkString("[", ", ", "]")
        (key._1, key._2, body, spans.map(_._1))
      }
      .toDF("conv_id", "turn_idx", "output", "mentions")
    val byHash = Window.partitionBy("run")
      .orderBy(xxhash64(col("conv_id"), col("turn_idx")), col("conv_id"), col("turn_idx"))
    val withOutputs = turns.filter(t => Extraction.cleanText(t.text))
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .join(outputs, Seq("conv_id", "turn_idx"))
    val rows = Experiments.seededSplits(withOutputs, "conv_id", testPct, seeds)._1
      .withColumn("rank", row_number().over(byHash))
      .filter(col("rank") <= poolSize)
      .select("run", "rank", "text", "output", "mentions")
      .collect()
      .groupBy(_.getInt(0))
    seeds.indices.map { run =>
      rows.getOrElse(run, Array.empty).sortBy(_.getInt(1))
        .map(r => ShotExample(r.getString(2), r.getString(3),
          graft.functions.TextAnalytics.embedText(r.getString(2)),
          r.getSeq[String](4).toArray.map(m => graft.functions.TextAnalytics.embedText(m))))
    }
  }

  /** Sentence-kNN: exact top-k cosine against the broadcast training
    * pool, selected with a bounded heap (one pass over the pool, O(k)
    * space — never a full pool sort per query). Ties broken by
    * ascending train_id (np.argsort is stable; our tie-break is
    * documented & deterministic). */
  def sentenceKnn(queries: Dataset[(Long, Array[Float])],
                  train: Array[(Long, Array[Float])], k: Int): Dataset[Shot] = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(train)
    val ord: Ordering[(Long, Double)] = Ordering.by { case (tid, s) => (-s, tid) }
    queries.mapPartitions { it =>
      val pool = bc.value
      it.flatMap { case (qid, qv) =>
        graft.functions.TopK.smallest(
          pool.iterator.map { case (tid, tv) => (tid, StringSim.cosine(qv, tv)) }, k)(ord)
          .zipWithIndex
          .map { case ((tid, s), i) => Shot(qid, tid, s, i + 1) }
      }
    }
  }

  /** Entity/token-kNN (few_shots_techniques.py:110-124): for each
    * query token top-k vs all training TOKEN embeddings; merge all
    * per-token hits sorted by score desc; dedup training-row idx
    * keeping the best-scored occurrence; take k rows. */
  def entityKnn(queryTokens: Dataset[(Long, Int, Array[Float])], // (query_id, token_pos, vec)
                trainTokens: Array[(Long, Array[Float])],        // (train_row_idx, token vec)
                k: Int): Dataset[Shot] = {
    val spark = queryTokens.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(trainTokens)
    val tord: Ordering[(Long, Long, Double)] = Ordering.by { case (_, idx, s) => (-s, idx) }
    val perToken = queryTokens.mapPartitions { it =>
      val pool = bc.value
      it.flatMap { case (qid, _, qv) =>
        graft.functions.TopK.smallest(
          pool.iterator.map { case (idx, tv) => (qid, idx, StringSim.cosine(qv, tv)) }, k)(tord)
      }
    }.toDF("query_id", "train_id", "sim")
    // merge per-token candidates: best score per (query, train row),
    // then global rank per query, dedup-by-idx is implied by the max
    val best = perToken.groupBy("query_id", "train_id")
      .agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("train_id"))
    best.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .as[Shot]
  }

  /** Fully distributed sentence-kNN as a pure DataFrame plan: the
    * bounded query set rides a broadcast nested-loop join against the
    * pool SCAN (never a driver collect of the pool — the pool can be
    * arbitrarily large), cosine via codegen'd higher-order array
    * functions, top-k per query via a ranking window. Similarity is
    * rounded BEFORE ranking so the (sim DESC, vec_id ASC) order is
    * reproducible across engines — this query has a DuckDB oracle
    * twin in SparkEntry.
    *
    * queries: (query_id long, qvec array<double>) — the broadcast side;
    * pool:    (vec_id long, evec array<double>) — the scan side.
    */
  def sentenceKnnJoin(queries: DataFrame, pool: DataFrame, k: Int): DataFrame = {
    // native fused-loop cosine (plans/CosineSimilarityExpression) —
    // bit-identical to the former aggregate(zip_with(...)) chain
    graft.plans.CosineSimilarityExpression.register(pool.sparkSession)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    pool.join(broadcast(queries))
      .withColumn("sim", round(expr("cosine_sim(evec, qvec)"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Fully distributed entity/token-kNN as a pure DataFrame plan — the
    * oracle twin of [[entityKnn]] (few_shots_techniques.py:103-124):
    * stage 1: per query TOKEN, top-k over the training-token SCAN
    * (bounded query-token set broadcast, train tokens never collected);
    * stage 2: the reference's merge — best score per (query, train
    * row) [= dedup-by-idx keeping the best occurrence], global rank
    * per query by score, truncate to k. Similarity is rounded BEFORE
    * ranking so the (sim DESC, train_id ASC) order reproduces across
    * engines; equal-(sim, train_id) candidates are interchangeable
    * downstream (they collapse in the max-per-train-row merge), so the
    * plan is deterministic at any parallelism.
    *
    * queryTokens: (query_id long, token_pos long, qvec array<double>) — broadcast;
    * trainTokens: (train_id long, tvec array<double>) — the scan side.
    */
  def entityKnnJoin(queryTokens: DataFrame, trainTokens: DataFrame, k: Int): DataFrame = {
    graft.plans.CosineSimilarityExpression.register(trainTokens.sparkSession)
    val wTok = Window.partitionBy("query_id", "token_pos")
      .orderBy(col("sim").desc, col("train_id"))
    val perToken = trainTokens.join(broadcast(queryTokens))
      .withColumn("sim", round(expr("cosine_sim(tvec, qvec)"), 4))
      .withColumn("tok_rank", row_number().over(wTok))
      .filter(col("tok_rank") <= k)
    val best = perToken.groupBy("query_id", "train_id").agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("train_id"))
    best.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "train_id", "sim", "rank")
  }
}
