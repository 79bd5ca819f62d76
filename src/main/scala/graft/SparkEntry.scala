package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.kg._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two query families:
  *  - `kg_*`: the KG-construction pipeline over the deterministic
  *    synthetic transcript corpus (BASELINE.json input_hint shape;
  *    no external data). Not SQL-expressible → no oracle entry, the
  *    driver records rows-only checks; exact-parity gates live in
  *    `sbt -batch test` (KGPipelineSpec).
  *  - `q*`: relational operators from SURVEY §2 exercised over the
  *    driver's parquet tables with DuckDB-oracle SQL (added as each
  *    operator lands).
  */
object SparkEntry {

  /** Small corpus ≈ sf0.001-scale for the flagship smoke query. */
  private val SmokeCfg = TranscriptGen.Config(nConvs = 40)

  /** Flagship: end-to-end KG triples. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = kgQuery(spark, SmokeCfg)(_.triples.toDF())

  private def cfgFor(sfDir: String): TranscriptGen.Config = {
    // scale the synthetic corpus with the driver's sf directory
    val nConvs = if (sfDir.contains("sf0.1")) 2000L
      else if (sfDir.contains("sf0.01")) 400L
      else 40L
    TranscriptGen.Config(nConvs = nConvs)
  }

  /** Run the KG pipeline, materialize one stage's output decoupled
    * from the pipeline's cached datasets (localCheckpoint), then
    * release the caches — repeated invocations in a shared session
    * (Verify, Bench) must not accumulate cached stages. */
  private def kgQuery(s: SparkSession, cfg: TranscriptGen.Config)(pick: KGPipeline.Result => DataFrame): DataFrame = {
    val r = KGPipeline.run(s, cfg)
    val out = pick(r).localCheckpoint()
    r.unpersistAll()
    out
  }

  /** The corpus's prompts, parsed for mentions under `tech`. */
  private def kgMentions(s: SparkSession, cfg: TranscriptGen.Config, tech: PromptTechniques.Technique): DataFrame =
    PromptTechniques.detectMentions(Extraction.buildPrompts(TranscriptGen.transcripts(s, cfg)), tech, cfg).toDF()

  /** The corpus's extraction rows, [[KGPipeline.extract]] over its prompts. */
  private def kgExtracted(s: SparkSession, cfg: TranscriptGen.Config): Dataset[Extraction.TurnExtraction] =
    KGPipeline.extract(Extraction.buildPrompts(TranscriptGen.transcripts(s, cfg)), cfg)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.operators.RelationalQueries.all ++ Map(
    // ---- KG pipeline stages (rows-only checks; parity in tests) ----
    "kg_triples" -> ((s, dir) => kgQuery(s, cfgFor(dir))(_.triples.toDF())),
    "kg_mentions" -> ((s, dir) => kgMentions(s, cfgFor(dir), PromptTechniques.Discussion)),
    // the per-tag fan-out technique (pt_gpt_ner.py:28-38)
    "kg_mentions_atat" -> ((s, dir) => kgMentions(s, cfgFor(dir), PromptTechniques.AtAt)),
    "kg_links" -> ((s, dir) => kgQuery(s, cfgFor(dir))(_.links.toDF())),

    "experiment_grid" -> ((s, dir) => {
      // classical_test grid (llm/LLMModel.py:144-203): seeded runs ×
      // (technique, few-shot arm) → leaderboard with t-CIs. Arms kept
      // to a representative subset so the query stays bounded.
      val cfg = cfgFor(dir)
      val arms = Seq(
        Experiments.Arm(PromptTechniques.Discussion, Extraction.FstNone, 0),
        Experiments.Arm(PromptTechniques.Discussion, Extraction.FstSentence, 3),
        Experiments.Arm(PromptTechniques.Filing, Extraction.FstSentence, 3))
      Experiments.leaderboard(Experiments.classicalTest(s, cfg, arms, nbRuns = 2))
    }),

    "experiment_pivot" -> ((s, dir) => {
      // technique × nb_few_shots pivot of mean F1 — the shape the
      // reference's analysis notebooks read (plot_results.py:99-103).
      // One seeded run per arm keeps the query bounded; the grid
      // harness itself is benched under experiment_grid.
      val cfg = cfgFor(dir)
      val arms = Seq(
        Experiments.Arm(PromptTechniques.Discussion, Extraction.FstNone, 0),
        Experiments.Arm(PromptTechniques.Discussion, Extraction.FstSentence, 3),
        Experiments.Arm(PromptTechniques.Filing, Extraction.FstNone, 0),
        Experiments.Arm(PromptTechniques.Filing, Extraction.FstSentence, 3))
      Experiments.leaderboardPivot(
        Experiments.classicalTest(s, cfg, arms, nbRuns = 1), Seq(0, 3))
    }),

    // ---- training-data pipeline ops (rows-only; accuracy specs in tests) ----
    "dedup_minhash_clusters" -> ((s, dir) =>
      operators.Dedup.minhashClusters(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    "dedup_sketches" -> ((s, dir) => {
      import s.implicits._
      operators.Dedup.sketch(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .map(sk => (sk.doc_id, f"${sk.simhash}%016x", sk.nShingles, sk.minhash.min))
        .toDF("doc_id", "simhash_hex", "n_shingles", "min_minhash")
    }),
    "text_profile" -> ((s, dir) =>
      operators.TextOps.profile(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text").toDF()),
    "text_fingerprints" -> ((s, dir) =>
      operators.TextOps.fingerprintPostings(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    "kg_mention_confidence" -> ((s, dir) => {
      val cfg = cfgFor(dir)
      Extraction.withConfidence(kgExtracted(s, cfg), cfg).toDF()
    }),
    "kg_mention_logits" -> ((s, dir) => {
      // logit→softmax confidence suite + AUC label column
      // (evaluating_confidence.py:56-160). The raw array<double>
      // logits column is stringified for the driver surface — the
      // harness sorts returned rows in pandas and an ndarray cell is
      // unhashable; the vector stays visible, just as CSV text. The
      // typed Dataset (withLogits) keeps the real array.
      import org.apache.spark.sql.functions.{concat_ws, col, round, transform => htransform}
      val cfg = cfgFor(dir)
      Extraction.withLogits(kgExtracted(s, cfg), cfg).toDF()
        .withColumn("logits",
          concat_ws(",", htransform(col("logits"), l => round(l, 6).cast("string"))))
    }),
    "skew_salted_count" -> ((s, dir) => {
      val cfg = cfgFor(dir)
      operators.Skew.saltedCount(TranscriptGen.goldMentions(s, cfg).toDF(), "mention")
    }),
    "label_eval" -> ((s, dir) => {
      // end-to-end through the NESTED label store: Mongo-shaped
      // labels[].versions[] docs → explode flatten → evaluation
      // (myMongoClient.py:123-142 → testingLLMperformance.py:50-84)
      val n = if (dir.contains("sf0.1")) 5000L else if (dir.contains("sf0.01")) 1000L else 200L
      // no checkpoint here: scoreFrame materializes the post-union
      // frame once, which already covers both consumers of the flatten
      val lvs = operators.LabelEval.flattenLabelVersions(
        operators.LabelEval.syntheticNestedDocs(s, n), "/storage/")
      val gold = lvs.toDF().select("doc_id").distinct()
        .withColumn("label_name", org.apache.spark.sql.functions.lit("gold-marker"))
        .withColumn("label_value", org.apache.spark.sql.functions.lit("x"))
        .withColumn("confidence", org.apache.spark.sql.functions.lit(1.0))
        .withColumn("model", org.apache.spark.sql.functions.lit("user"))
        .withColumn("created_on", org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L)))
      operators.LabelEval.scoreFrame(lvs, gold)
    }),
    "multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val n = if (dir.contains("sf0.1")) 3000L else 300L
      operators.Multimodal.extractFeatures(
        operators.Multimodal.syntheticMedia(s, n),
        new operators.Multimodal.StubDecoder(16), partitions = 8)
        .map(f => (f.media_id, f.modality, f.n_bytes, f.width, f.height,
          f.duration_ms, f.content_sha))
        .toDF("media_id", "modality", "n_bytes", "width", "height", "duration_ms", "content_sha")
    }),
    "fewshots_sentence_knn" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      // distributed form: bounded query set broadcast against the pool
      // SCAN — no driver collect of the pool (DuckDB-oracled)
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qvec"))
      val pool = e.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("evec"))
      kg.FewShots.sentenceKnnJoin(q, pool, k = 3)
    }),
    "q58_entity_knn" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      // entity/token-kNN retrieval arm (few_shots_techniques.py:103-124)
      // over the embeddings table: vec_id<40 are query TOKENS grouped 8
      // tokens-per-query by content id; vec_id>=40 are training tokens,
      // several per train row (vec_id % 97) so the dedup-by-idx merge
      // actually fires. DuckDB-oracled.
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 40)
        .select((col("vec_id") % 8).as("query_id"), col("vec_id").as("token_pos"),
          col("embedding").cast("array<double>").as("qvec"))
      val tr = e.filter(col("vec_id") >= 40)
        .select((col("vec_id") % 97).as("train_id"),
          col("embedding").cast("array<double>").as("tvec"))
      kg.FewShots.entityKnnJoin(q, tr, k = 3)
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      import s.implicits._
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .select("vec_id", "embedding").as[(Long, Seq[Float])]
        .collect().map { case (id, v) => (id, v.toArray) } // constant-size query set
      operators.Ann.lshTopK(e, "vec_id", "embedding", queries, k = 10).toDF()
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      import s.implicits._
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val queries = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
        .select("vec_id", "embedding").as[(Long, Seq[Float])]
        .collect().map { case (id, v) => (id, v.toArray) } // constant-size query set
      operators.Ann.ivfTopK(e, "vec_id", "embedding", queries, k = 10).toDF()
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops (the
    * kg_* pipeline queries → rows-only checks). */
  def oracleSql: Map[String, String] = graft.operators.RelationalQueries.oracle ++ Map(
    "fewshots_sentence_knn" ->
      """SELECT query_id, vec_id, sim, rank FROM (
        | SELECT q.vec_id AS query_id, e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) DESC, e.vec_id) AS rank
        | FROM embeddings e, embeddings q
        | WHERE q.vec_id < 20 AND e.vec_id >= 20)
        |WHERE rank <= 3""".stripMargin,
    "q58_entity_knn" ->
      """WITH q AS (
        |  SELECT vec_id % 8 AS query_id, vec_id AS token_pos,
        |    embedding::DOUBLE[] AS qvec
        |  FROM embeddings WHERE vec_id < 40),
        |tr AS (
        |  SELECT vec_id % 97 AS train_id, embedding::DOUBLE[] AS tvec
        |  FROM embeddings WHERE vec_id >= 40),
        |per AS (
        |  SELECT query_id, token_pos, train_id,
        |    round(list_cosine_similarity(tvec, qvec), 4) AS sim
        |  FROM tr, q),
        |tok AS (
        |  SELECT query_id, train_id, sim,
        |    row_number() OVER (PARTITION BY query_id, token_pos
        |      ORDER BY sim DESC, train_id) AS tok_rank
        |  FROM per),
        |best AS (
        |  SELECT query_id, train_id, max(sim) AS sim
        |  FROM tok WHERE tok_rank <= 3 GROUP BY 1, 2)
        |SELECT query_id, train_id, sim, rank FROM (
        |  SELECT query_id, train_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, train_id) AS rank
        |  FROM best)
        |WHERE rank <= 3""".stripMargin)
}
