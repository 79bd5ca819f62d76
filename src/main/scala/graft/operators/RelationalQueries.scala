package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operators from SURVEY.md §2 expressed over the driver's
  * parquet tables, each with a DuckDB-oracle SQL twin in
  * [[OracleSql]]. Every aggregate / computed column is aliased
  * identically on both sides (driver compares by sorted column name).
  * Doubles are rounded on BOTH sides so summation-order noise cannot
  * flip the hash compare.
  *
  * These are the SQL-expressible shadows of the KG pipeline's
  * operators: each query's Scaladoc cites the reference semantics it
  * generalizes.
  */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Group-aggregate with arithmetic (per-label result stats,
    * testingLLMperformance.py:86-92; accuracy sums :104-112). */
  def q01PricingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("cnt"))

  /** Top-k per group via ranking window (kNN top-k,
    * few_shots_techniques.py:76; proposals entityMatching.py:70). */
  def q02TopkWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(spark, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
  }

  /** Margin confidence 2*s1 − s2 from the two best per group
    * (entityMatching.py:87). */
  def q03MarginConfidence(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_type")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    t(spark, dir, "part")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("p_type")
      .agg(
        round(max(when(col("rn") === 1, col("p_retailprice"))) * 2 -
          max(when(col("rn") === 2, col("p_retailprice"))), 4).as("margin"),
        count(lit(1)).as("cnt"))
  }

  /** Anti-join (missing-doc diagnostics,
    * testingLLMperformance.py:69-73). */
  def q04AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Full-outer alignment with 'None' fill (prediction↔gold merge,
    * process_results.py:95-108), aggregated to flag counts. */
  def q05OuterAlign(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "part").select(col("p_partkey"))
    val l = t(spark, dir, "lineitem").select(col("l_partkey")).distinct()
    p.join(l, p("p_partkey") === l("l_partkey"), "full_outer")
      .select(
        when(col("p_partkey").isNull, "None").otherwise("part").as("in_part"),
        when(col("l_partkey").isNull, "None").otherwise("line").as("in_line"))
      .groupBy("in_part", "in_line")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Max-confidence row per group with threshold (filter_rows,
    * testingLLMperformance.py:9-18). */
  def q06MaxConf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("value").desc, col("event_id"))
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("value") >= 0.5)
      .select(col("user_id"), col("event_type"), col("event_id"),
        round(col("value"), 4).as("value"))
  }

  /** Date normalization to yyyy-MM-dd (format_date,
    * testingLLMperformance.py:21-26). */
  def q07DateNorm(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("total"))

  /** Content hashing as document identity (sha-256 doc hash,
    * myMongoClient.py:197-204). */
  def q08ShaDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))

  /** Levenshtein scoring column (entityMatching.py:50). */
  def q09Levenshtein(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(col("p_partkey"), levenshtein(col("p_name"), col("p_brand")).as("d"))

  /** Set difference (set(a).difference(set(b)),
    * testingLLMperformance.py:69-71). */
  def q10Except(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val purchasers = e.filter(col("event_type") === "purchase").select("user_id").distinct()
    val erroring = e.filter(col("event_type") === "error").select("user_id").distinct()
    purchasers.except(erroring)
  }

  /** Whitespace token counting (nb_tokens, OntoNotes5Dataset.py:16;
    * prompt-length guard pt_abstract.py:54-60). */
  def q11TokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("ntok"))

  /** Group values → deduped set with provenance (get_values_to_match,
    * myMongoClient.py:62-75). */
  def q12CollectSet(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(
        array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
        count(lit(1)).as("cnt"))

  /** Exact dedup by content hash (drop_duplicates('text'),
    * ner/Datasets/utils.py:45 + duplicate counter :33-38). */
  def q13DedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))

  /** Histogram bucketing (pd.cut confidence histogram,
    * entityMatching.py:128-138). */
  def q14Histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(floor(col("value") / 50.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Entity-link scoring: top-1 Jaro-Winkler match per probe string
    * against a broadcast catalogue (get_best_matches,
    * entityMatching.py:59-78). StringSim.jaroWinkler implements the
    * strcmp95 0.7-boost-threshold variant — the same as DuckDB's
    * jaro_winkler_similarity — so the oracle compares exactly.
    * Scoring runs through the native codegen'd
    * [[graft.plans.JaroWinklerExpression]] (not a UDF), so the whole
    * broadcast theta join stays one WholeStageCodegen span. */
  def q15JaroLink(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.JaroWinklerExpression.register(spark)
    // repartition the STREAM side by the group key before fanning out
    // the broadcast theta join: the supplier file is one scan split, so
    // without it the |s|×|c| scoring runs on ONE core (r6 measured the
    // full-column path at 16.4 s noop); the exchange moves only |s|
    // rows and doubles as the window's required distribution, so no
    // second shuffle of the scored pairs happens (guide §2.4). The
    // partition count must be EXPLICIT (defaultParallelism, i.e. the
    // session's core count — never a hard-coded constant): a keyed
    // repartition without one is AQE-coalesced back to ONE partition
    // because the pre-fan-out input is tiny (measured 20-36 s vs 1.3 s)
    val s = t(spark, dir, "supplier").select("s_name")
      .repartition(spark.sparkContext.defaultParallelism, col("s_name"))
    val c = t(spark, dir, "customer").select("c_name")
    // top-1 via a single aggregate (min over (-score, name)) instead
    // of a full window sort — no per-group ordering of all pairs. With
    // the repartition above, the SortAggregate this struct-buffer
    // aggregate falls back to runs on per-core slices (r6: a window +
    // WindowGroupLimit variant was measured too — its count/noop walls
    // were 1.8/1.25 s vs 0.33/1.5 s here, so the aggregate stays)
    s.join(broadcast(c))
      .withColumn("jw", round(expr("jaro_winkler(s_name, c_name)"), 6))
      .groupBy("s_name")
      .agg(min(struct((col("jw") * -1).as("njw"), col("c_name"), col("jw"))).as("best"))
      .select(col("s_name"), col("best.c_name").as("c_name"), col("best.jw").as("jw"))
  }

  /** Brute-force cosine top-k ANN over the embedding column. Scoring
    * runs through the native codegen'd
    * [[graft.plans.CosineSimilarityExpression]] — one fused loop over
    * both vector buffers, replacing the higher-order
    * aggregate(zip_with(...)) chain that materialized the product
    * array per candidate row; accumulation order is identical, so
    * the oracle holds bit-exactly. */
  def q16AnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarityExpression.register(spark)
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qvec"))
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("evec"))
      .crossJoin(broadcast(q))
      .withColumn("sim", round(expr("cosine_sim(evec, qvec)"), 4))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
      .select("vec_id", "sim")
  }

  /** Sessionization via lag window (gap > 600s starts a session) —
    * the events-table generalization of stable turn ordering. */
  def q17Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        // integer-microsecond epochs on BOTH sides (Spark unix_micros /
        // DuckDB epoch_us) — no floating point, so a gap of exactly
        // 600.3s can never disagree on `> 600` between engines.
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp_ltz")) -
            unix_micros(col("prev_ts").cast("timestamp_ltz")) > 600000000L, 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("new_sess").as("sessions"), count(lit(1)).as("n_events"))
  }

  /** Two-level mean-of-means (score_by_documents,
    * testingLLMperformance.py:104-112). */
  def q18MeanOfMeans(spark: SparkSession, dir: String): DataFrame = {
    val perUser = t(spark, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(avg("value").as("user_mean"))
    perUser.groupBy("event_type")
      .agg(round(avg("user_mean"), 6).as("mean_of_means"), count(lit(1)).as("n_users"))
  }

  /** Broadcast-dimension equi-join chain with pruned columns
    * (doc_id↔doc_name mapping joins, preparing_finetuning.py:16,26). */
  def q19DimJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("cnt"), round(avg("c_acctbal"), 4).as("avg_bal"))
  }

  /** Numeric-ratio data-cleaning filter as SQL predicate
    * (ner/Datasets/utils.py:24-30): rows where digit-only tokens
    * outnumber alpha tokens are dropped. */
  def q20NumericFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val numeric = size(filter(toks, x => x.rlike("^[0-9]+$")))
    val alpha = size(filter(toks, x => x.rlike("^[A-Za-z]+$")))
    t(spark, dir, "documents")
      .withColumn("n_numeric", numeric)
      .withColumn("n_alpha", alpha)
      .filter(col("n_numeric") < col("n_alpha"))
      .select("doc_id", "n_numeric", "n_alpha")
  }

  /** Set intersect (set(gold) & set(pred), myMongoClient.py:152). */
  def q21Intersect(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.filter(col("event_type") === "purchase").select("user_id").distinct()
      .intersect(e.filter(col("event_type") === "view").select("user_id").distinct())
  }

  /** Global sort + limit with deterministic tie-break (result
    * leaderboard sort, ResultInstance.py:145). */
  def q22TopkGlobal(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select("o_orderkey", "o_totalprice")

  /** Global min-max normalization with the reference's +0.05 smoothing
    * (entityMatching.py:90-92) — the pipeline's one intentional
    * barrier, as a 1-row aggregate crossJoin. */
  def q23MinMaxNorm(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
    val stats = s.agg(min("s_acctbal").as("min_"), max("s_acctbal").as("max_"))
    s.crossJoin(broadcast(stats))
      .select(col("s_suppkey"),
        round((col("s_acctbal") - col("min_")) / (col("max_") + 0.05 - col("min_")), 6)
          .as("norm"))
  }

  /** Distributed ROC AUC via the rank-sum closed form
    * (evaluating_confidence.py:152-165; Metrics.aucFrame): label =
    * purchase events, score = value rounded to 3 decimals (the
    * rounding bounds the per-score grouped frame at any corpus
    * size). */
  def q24Auc(spark: SparkSession, dir: String): DataFrame = {
    val pts = t(spark, dir, "events")
      .select((col("event_type") === "purchase").as("label"),
        round(col("value"), 3).as("score"))
    graft.kg.Metrics.aucFrame(pts, "label", "score")
      .select(round(col("auc"), 6).as("auc"))
  }

  /** Nested build → explode flatten round-trip (the Mongo label-store
    * shape, myMongoClient.py:123-142): rows are rolled up into an
    * array<struct> column, then UNNESTed back and re-aggregated —
    * exercising ArrayType(StructType) construction, explode, and
    * struct field access with a DuckDB list/UNNEST twin. */
  def q25NestedFlatten(spark: SparkSession, dir: String): DataFrame = {
    val nested = t(spark, dir, "events")
      .groupBy("user_id")
      .agg(collect_list(struct(col("event_type"), col("value"))).as("evs"))
    nested.select(col("user_id"), explode(col("evs")).as("ev"))
      .groupBy(col("user_id"), col("ev.event_type").as("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("ev.value"), 2).as("total"))
  }

  /** The check_label_value containment shape
    * (testingLLMperformance.py:28-48, LabelEval.checkLabelValues) over
    * a driver table: per group, does the "user" value (first 'view'
    * row by event_id) appear among the "model" values (distinct
    * 'purchase' values)? Missing user row → 0, like the reference. */
  def q26LabelCheck(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val groups = e.select("user_id").distinct()
    val userRows = e.filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min_by(col("value"), col("event_id")).as("user_value"))
    val modelRows = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(collect_set("value").as("model_values"))
    groups
      .join(userRows, Seq("user_id"), "left_outer")
      .join(modelRows, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        when(col("user_value").isNull, 0)
          .when(array_contains(coalesce(col("model_values"),
            array().cast("array<double>")), col("user_value")), 1)
          .otherwise(0).as("output"))
  }

  /** Salted two-phase aggregation (Skew.saltedCount — the north
    * rule's hot-key treatment) oracled against a PLAIN group-count:
    * the salting must be semantically invisible. */
  def q27SaltedCount(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedCount(t(spark, dir, "events"), "user_id")

  /** Word-3-gram shingles of a document as an exploded (doc_id, i, g)
    * frame — shared scan shape for the fingerprint/dedup oracles
    * below. Docs under 3 tokens yield no shingles (both engines). */
  private def shingleFrame(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), posexplode(
        expr("transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as(Seq("i", "g")))
  }

  /** Winnowing fingerprint postings (TextOps.fingerprintPostings'
    * oracle-grade shadow): md5 each word-3-gram, take the min hash of
    * every full window of 4 consecutive shingles, distinct per doc —
    * the Schleimer/Wilkerson/Aiken winnowing scheme expressed with an
    * engine-portable hash (md5) so DuckDB computes the IDENTICAL
    * fingerprints. Window min is a rows-between frame, no self-join. */
  def q28WinnowPostings(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, 3)
    shingleFrame(spark, dir)
      .select(col("doc_id"), col("i"), md5(col("g")).as("h"))
      .withColumn("fp", min(col("h")).over(w))
      .withColumn("wn", count(lit(1)).over(w))
      .filter(col("wn") === 4) // only windows fully inside the doc
      .select("doc_id", "fp")
      .distinct()
  }

  /** MinHash-LSH candidate generation + exact-Jaccard verify: 8
    * md5-seeded minhashes → 2 bands of 4 → band-key equi self-join →
    * exact word-3-gram Jaccard on each candidate pair. Never all
    * pairs: only pairs agreeing on a full band are scored, with a hash
    * DuckDB can reproduce bit-for-bit. */
  def q29LshJaccard(spark: SparkSession, dir: String): DataFrame = {
    def mh(j: Int): Column =
      array_min(transform(col("gs"), g => md5(concat(lit(s"$j:"), g))))
    val toks = split(trim(col("text")), "\\s+")
    // shingle SET built narrowly per doc — no shuffle before banding
    // the sketch pipeline (8 md5 minhash passes over every shingle)
    // runs ONCE into a materialized frame; everything downstream
    // shuffles ONLY (band-key, doc_id) rows — r5 shipped the full
    // shingle-set array through the band shuffle twice per doc
    // (2 band rows × gs payload), the guide-§8 anti-pattern of moving
    // heavy payloads to make a lightweight decision. Candidate pairs
    // come from the same in-bucket emission, now over bare ids; the
    // shingle arrays re-attach afterwards from the checkpointed sig
    // (no recompute — the r5 reason to carry them is gone).
    val sig = t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), array_distinct(
        expr("transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .as("gs"))
      .select(col("doc_id"), col("gs"),
        md5(concat(mh(0), mh(1), mh(2), mh(3))).as("band0"),
        md5(concat(mh(4), mh(5), mh(6), mh(7))).as("band1"))
      .localCheckpoint()
    val bk = sig.select(col("doc_id"),
      explode(array(concat(lit("0:"), col("band0")),
        concat(lit("1:"), col("band1")))).as("bk"))
    // pair orientation is normalized a<b by sorting ids in the bucket;
    // dropDuplicates collapses pairs that agree on both bands BEFORE
    // the arrays are attached
    val cands = bk.groupBy("bk")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
    cands
      .join(sig.select(col("doc_id").as("a"), col("gs").as("ga")), "a")
      .join(sig.select(col("doc_id").as("b"), col("gs").as("gb")), "b")
      .select(col("a"), col("b"),
        round(size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))), 4).as("jaccard"))
  }

  /** Blocked entity linking, oracle-grade shadow of
    * EntityLinking.proposalsBlocked (the north rule's blocking-key
    * candidate generation): mentions and catalogue are the even/odd
    * halves of part names, candidates come from a first-word equi-join
    * (never a cross product), and only candidates are Jaro-Winkler
    * scored, top-1 per mention with the q15 aggregate (min over
    * (-jw, name)). Portable keys (first token) so DuckDB reproduces
    * the candidate set exactly; the production operator's hashed
    * multi-key blocking is spec-gated instead (BlockedLinkingSpec). */
  def q30BlockedLink(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.JaroWinklerExpression.register(spark)
    val p = t(spark, dir, "part").select(col("p_partkey"), col("p_name"))
    val m = p.filter(col("p_partkey") % 2 === 0)
      .select(col("p_name").as("m_name"),
        split(col("p_name"), " ").getItem(0).as("bkey"))
    val c = p.filter(col("p_partkey") % 2 === 1)
      .select(col("p_name").as("e_name"),
        split(col("p_name"), " ").getItem(0).as("bkey"))
    // top-1 per mention via the q15 rank-limit window (row_number ≤ 1
    // → WindowGroupLimit) — same (jw desc, e_name) ordering as the r5
    // min-over-struct aggregate it replaces, without that aggregate's
    // SortAggregate fallback over every candidate pair
    val w = Window.partitionBy("m_name").orderBy(col("jw").desc, col("e_name"))
    // the candidate-pair distinct is load-bearing: part NAMES repeat
    // across partkeys, so the equi-join emits each (m_name, e_name)
    // once per duplicate-pair combination — deduping BEFORE scoring
    // keeps the JW pass on distinct pairs only (removing it measured
    // 1.8 s → 12 s at sf0.1)
    m.join(c, "bkey")
      .select("m_name", "e_name").distinct()
      .withColumn("jw", round(expr("jaro_winkler(m_name, e_name)"), 6))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("m_name"), col("e_name"), col("jw"))
  }

  /** Oracle-grade shadow of the logit-confidence suite
    * (functions/Confidence — evaluating_confidence.py:98-107 — and
    * Extraction.withLogits): three portable "logits" per document
    * derived from md5 hex chars (ascii/16.0 — EXACT doubles, both
    * engines derive identical inputs), then the Scala Confidence
    * kernels evaluate all six variants + the logistic calibration at
    * the argmax tag, and DuckDB recomputes every formula — including
    * the proba_centered operator-precedence quirk — in SQL. Rows where
    * all three logits tie are excluded on both sides (proba_centered
    * divides by zero there; engines disagree on 0/0). */
  def q31LogitConfidence(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("text"))
    def lg(i: Int): Column = ascii(substring(h, i, 1)) / 16.0
    val conf = udf((l0: Double, l1: Double, l2: Double) => {
      val logits = Array(l0, l1, l2)
      var oi = 0; var i = 1
      while (i < 3) { if (logits(i) > logits(oi)) oi = i; i += 1 }
      import graft.functions.Confidence._
      (oi, softmax(logits)(oi), softmaxMin(logits)(oi), softmaxMax(logits)(oi),
        probaDirect(logits)(oi), probaCentered(logits)(oi), transparent(logits)(oi),
        logisticScore(logits, graft.kg.Extraction.CalibrationWeights,
          graft.kg.Extraction.CalibrationBias))
    })
    t(spark, dir, "documents")
      .select(col("doc_id"), lg(1).as("l0"), lg(2).as("l1"), lg(3).as("l2"))
      .filter(!(col("l0") === col("l1") && col("l1") === col("l2")))
      .withColumn("c", conf(col("l0"), col("l1"), col("l2")))
      .select(col("doc_id"), col("c._1").as("oi"),
        round(col("c._2"), 6).as("conf_softmax"),
        round(col("c._3"), 6).as("conf_softmax_min"),
        round(col("c._4"), 6).as("conf_softmax_max"),
        round(col("c._5"), 6).as("conf_proba_direct"),
        round(col("c._6"), 6).as("conf_proba_centered"),
        round(col("c._7"), 6).as("conf_transparent"),
        round(col("c._8"), 6).as("calibrated"))
  }

  /** ROC curve points (Metrics.rocFrame — the reference plots
    * roc_curve's fpr/tpr/threshold arrays,
    * evaluating_confidence.py:152-165) with a DuckDB cumulative-window
    * twin: label = purchase events, threshold = value rounded to 2
    * decimals (the quantization that bounds the grouped frame). */
  def q32Roc(spark: SparkSession, dir: String): DataFrame = {
    val pts = t(spark, dir, "events")
      .select((col("event_type") === "purchase").as("label"), col("value").as("score"))
    graft.kg.Metrics.rocFrame(pts, "label", "score", precision = 2)
      .select(col("threshold"),
        round(col("fpr"), 6).as("fpr"), round(col("tpr"), 6).as("tpr"))
  }

  /** Leaderboard pivot shape (plot_results.py:99-103,118,151,243 —
    * `pivot` of f1_mean by technique × nb_few_shots;
    * Experiments.leaderboardPivot) over a driver table: groupBy().
    * pivot() with an explicit value list, DuckDB twin via conditional
    * aggregation. Explicit values keep the output schema static — at
    * scale a pivot must never run the implicit distinct-values job. */
  def q33Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(round(sum("value"), 2))

  /** Multimodal stub-decode, oracle-grade shadow (operators/Multimodal
    * .StubDecoder): documents become binary media rows (UTF-8 bytes,
    * modality cycled by doc_id), the REAL per-partition batched
    * decoder runs, and DuckDB reproduces every derived feature —
    * n_bytes, width/height/duration from md5 hex chars, the full
    * content_md5 — from the same bytes. */
  def q34MediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val modality = (id % 3).toInt match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
        Multimodal.MediaRow(id, modality, text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          "application/octet-stream", Map.empty)
      }
    Multimodal.extractFeatures(media, new Multimodal.StubDecoder(8), partitions = 8)
      .map(f => (f.media_id, f.modality, f.n_bytes, f.width, f.height, f.duration_ms, f.content_md5))
      .toDF("media_id", "modality", "n_bytes", "width", "height", "duration_ms", "content_md5")
  }

  /** Connected-components canonicalization, oracle-grade shadow of
    * the north rule's core graph op (kg/Canonicalize — SURVEY §7.0
    * step 6): a two-level star forest built portably from the events
    * table (user → decade hub → century hub, the mention↔entity↔alias
    * shape), run through the distributed hash-min label-propagation
    * loop, while DuckDB reaches the same (vertex,
    * min-reachable-label) fixpoint with a recursive CTE. Until now
    * this family was spec-only. */
  def q35ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val u = t(spark, dir, "events").select(col("user_id")).distinct()
    val e1 = u.select(
      concat(lit("u:"), col("user_id")).as("src"),
      concat(lit("c:"), floor(col("user_id") / 10).cast("long")).as("dst"))
    val e2 = u.select(
      concat(lit("c:"), floor(col("user_id") / 10).cast("long")).as("src"),
      concat(lit("C:"), floor(col("user_id") / 100).cast("long")).as("dst")).distinct()
    graft.kg.Canonicalize.connectedComponents(e1.union(e2))
  }

  /** Text-quality scoring, oracle-grade shadow of the TextOps.profile
    * family (TextAnalytics.quality — the cleaning pass generalizing
    * ner/Datasets/utils.py:24-30): char-class ratios, stopword ratio,
    * avg word length and the bounded 0..1 quality score, re-expressed
    * with engine-portable regex/list primitives so DuckDB reproduces
    * every column. ASCII classes on both sides. */
  def q36TextQuality(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val n = length(txt)
    val alpha = (n - length(regexp_replace(txt, "[A-Za-z]", ""))).cast("double")
    val digit = (n - length(regexp_replace(txt, "[0-9]", ""))).cast("double")
    val ws = (n - length(regexp_replace(txt, "\\s", ""))).cast("double")
    val punct = n.cast("double") - alpha - digit - ws
    val wordsArr = filter(split(lower(txt), "[^a-z]+"), x => x =!= "")
    val stopLit = array(graft.functions.TextAnalytics.EnStopwords.map(lit): _*)
    val nWords = size(wordsArr).cast("double")
    val stopHits = size(filter(wordsArr, x => array_contains(stopLit, x))).cast("double")
    val sumLen = aggregate(wordsArr, lit(0), (acc, x) => acc + length(x)).cast("double")
    t(spark, dir, "documents")
      .filter(n > 0)
      .select(col("doc_id"), n.as("n_chars"), nWords.cast("long").as("n_words"),
        round(alpha / n, 6).as("alpha_ratio"),
        round(digit / n, 6).as("digit_ratio"),
        round(punct / n, 6).as("punct_ratio"),
        round(when(nWords === 0, 0.0).otherwise(stopHits / nWords), 6).as("stopword_ratio"),
        round(when(nWords === 0, 0.0).otherwise(sumLen / nWords), 6).as("avg_word_len"),
        round(greatest(lit(0.0), least(lit(1.0),
          lit(0.35) * (alpha / n) +
          lit(0.25) * least(lit(1.0), when(nWords === 0, 0.0).otherwise(stopHits / nWords) * 4) +
          lit(0.20) * least(lit(1.0), nWords / 20.0) +
          lit(0.20) * (lit(1.0) - least(lit(1.0), digit / n * 3 + punct / n * 2)))), 6)
          .as("quality"))
  }

  /** Deterministic plane matrix BOTH engines can derive: entry(p,j) =
    * hexval(first md5 hex char of "p:j") − 7.5 ∈ {−7.5..7.5}, exact
    * in doubles. The production [[Ann.planeMatrix]] uses xxhash-mixed
    * planes; this portable twin exists so q37 can oracle the SAME
    * bucketed kernel ([[Ann.lshTopKWith]]) against DuckDB. */
  private[graft] def portablePlanes(planes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes)(p => Array.tabulate(dim) { j =>
      val nibble = (md.digest(s"$p:$j".getBytes("UTF-8"))(0) & 0xff) >>> 4
      nibble - 7.5
    })
  }

  /** Oracle shadow of the BUCKETED ANN path (Ann.lshTopK — the scale
    * path next to q16's exact kNN; reference all-pairs cosine kNN at
    * few_shots_techniques.py:71-81): the REAL lshTopKWith kernel runs
    * with a portable md5-derived plane matrix (6 planes, multi-probe
    * = own bucket + every 1-bit flip ⇒ candidates are exactly the
    * signature pairs at hamming ≤ 1), and DuckDB recomputes bucket
    * membership bit-for-bit and exact-rescores inside probed buckets.
    * Sims round to 4 decimals BEFORE ranking on both sides so rank
    * ties break identically. Closes the last rows-only family with no
    * oracle-grade shadow (VERDICT r3 item 2). */
  def q37LshAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = t(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => (id, v.toArray) } // constant-size query set
    val dim = queries.headOption.map(_._2.length).getOrElse(0)
    Ann.lshTopKWith(e, "vec_id", "embedding", queries, k = 10,
      portablePlanes(6, dim), probes = 7, simPrecision = 4).toDF()
  }

  /** Oracle shadow of the IVF coarse-quantizer path (Ann.ivfTopK —
    * the learned-bucket scale twin of q37's hyperplane LSH; reference
    * all-pairs cosine kNN at few_shots_techniques.py:71-81): the REAL
    * [[Ann.ivfTopKWith]] kernel runs with a portable md5-derived
    * 8-list codebook, cosine list-assignment rounded to 6 decimals
    * before the argmax, 3 probed lists per query, and rescoring sims
    * rounded to 4 decimals before ranking — DuckDB reproduces list
    * assignment, probe sets and in-list rescoring from the same
    * centroid literals. With q37 this puts BOTH bucketed ANN paths
    * under oracle; only the k-means TRAINING stays Scala-side (the
    * codebook is a frozen bounded artifact — injecting it is exactly
    * how a production index ships). */
  def q40IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = t(spark, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 5)
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => (id, v.toArray) } // constant-size query set
    val dim = queries.headOption.map(_._2.length).getOrElse(0)
    Ann.ivfTopKWith(e, "vec_id", "embedding", queries, k = 10,
      portablePlanes(8, dim), nProbe = 3, assignPrecision = 6, simPrecision = 4).toDF()
  }

  /** Portable pred/gold mention sets for the confusion-matrix family
    * (q38/q39): events rows become (conv, turn, mention, tag) with
    * deterministic drops (1/9 of gold missing from pred's view → FNs,
    * 1/7 of pred unmatched → FPs) and a deterministic tag
    * perturbation on multiples of 5 → off-diagonal mass. Both engines
    * derive the exact same rows from integer arithmetic. */
  private def alignedPairs(spark: SparkSession, dir: String) = {
    import spark.implicits._
    val tags = Seq("PER", "LOC", "ORG", "None")
    val tagArr = array(tags.map(lit): _*)
    val base = t(spark, dir, "events")
      .select(col("user_id").cast("string").as("conv_id"),
        (col("event_id") % 5).cast("int").as("turn_idx"),
        concat(lit("m"), col("event_id") % 13).as("mention"),
        col("event_id"))
    def mentions(df: DataFrame, ti: Column) =
      df.select(col("conv_id"), col("turn_idx"), col("mention"),
        element_at(tagArr, ti.cast("int") + 1).as("tag")).as[graft.kg.Mention]
    val gold = mentions(base.filter(col("event_id") % 9 =!= 0), col("event_id") % 4)
    val pred = mentions(base.filter(col("event_id") % 7 =!= 0),
      (col("event_id") % 4 + when(col("event_id") % 5 === 0, 1).otherwise(0)) % 4)
    graft.kg.Metrics.align(pred, gold)
  }

  /** Confusion-matrix frame (ner/process_results.py:95-116 +
    * show_cm_multi :24-34): the REAL dict-keyed full-outer alignment
    * (Metrics.align cogroup) feeds Metrics.confusionFrame's single
    * distributed groupBy; DuckDB reproduces the alignment relationally
    * (max-tag dicts, sanitized pred list, gold anti-rows) and GROUPs.
    * Puts the headline metric family's input under oracle (VERDICT r3
    * item 3). */
  def q38ConfusionMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.kg.Metrics.confusionFrame(alignedPairs(spark, dir))

  /** Weighted P/R/F1 over the same aligned pairs — sklearn's
    * average='weighted', zero_division=0 (process_results.py:113),
    * computed BOTH ways the repo exposes it: Metrics.weightedPRF (the
    * bounded count-matrix collect) and the distributed WeightedF1Agg
    * Aggregator (UDAF surface), which must agree with each other and
    * with DuckDB's relational recomputation to 1e-6 (VERDICT r3
    * item 4). */
  def q39WeightedPrf(spark: SparkSession, dir: String): DataFrame = {
    val pairs = alignedPairs(spark, dir).localCheckpoint() // two consumers, one alignment pass
    val prf = graft.kg.Metrics.weightedPRF(pairs)
    pairs.select((new graft.kg.Metrics.WeightedF1Agg).toColumn.name("f1_agg")).toDF("f1_agg")
      .select(
        round(lit(prf.precision), 6).as("precision"),
        round(lit(prf.recall), 6).as("recall"),
        round(lit(prf.f1), 6).as("f1"),
        round(col("f1_agg"), 6).as("f1_agg"),
        lit(prf.support).as("support"))
  }

  /** Gopher-style repetition signals over the documents table
    * (TextOps.repetitionProfile) — the within-doc repetition gates a
    * training-data pipeline runs before dedup. */
  def q41Repetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionProfile(t(spark, dir, "documents"), "doc_id", "text").toDF()

  /** Benchmark decontamination diagnostic
    * (TextOps.contaminationStats): every 10th doc plays the eval set;
    * word TRIgrams (n=3) so the synthetic vocabulary actually
    * collides — production pipelines use n=8-13 via the same API. */
  def q42Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    TextOps.contaminationStats(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 3)
  }

  /** PII scrub (Privacy.piiScrub): the documents table carries no
    * real PII, so both engines derive the same deterministic
    * email/phone/IP-bearing text from doc_id first, then the scrub
    * runs over that — counts before redaction, md5 of the redacted
    * text as the value witness. */
  def q43PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val withPii = t(spark, dir, "documents").select(
      d,
      concat(
        col("text"),
        lit(" contact user"), d.cast("string"), lit("@mail"), (d % 7).cast("string"), lit(".com"),
        lit(" call 555-"), lpad((d % 1000).cast("string"), 3, "0"),
        lit("-"), lpad(((d * 7) % 10000).cast("string"), 4, "0"),
        lit(" from 10."), (d % 256).cast("string"), lit("."),
        ((d * 3) % 256).cast("string"), lit("."), ((d * 5) % 256).cast("string")
      ).as("text"))
    Privacy.piiScrub(withPii, "doc_id", "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("redacted")).as("redacted_md5"))
  }

  /** Per-language token-count quantiles (mixture diagnostics): exact
    * interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the rank = q·(n−1) linear-interpolation
    * definition. Word counting reuses q41's [^a-z]+ split. */
  def q44TokenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val nw = size(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit("")))
    val pct = expr("percentile(nw, array(0.25D, 0.5D, 0.75D, 0.9D))")
    t(spark, dir, "documents")
      .select(col("lang"), nw.as("nw"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("nw")), 6).as("mean_words"),
        round(pct.getItem(0), 6).as("p25"),
        round(pct.getItem(1), 6).as("p50"),
        round(pct.getItem(2), 6).as("p75"),
        round(pct.getItem(3), 6).as("p90"))
  }

  /** Deterministic stratified down-sample (Sampling.stratifiedSample)
    * with per-language mixture rates; thresholds are powers of two so
    * the 1/65536 quantization is exact in the oracle too. */
  def q45StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(t(spark, dir, "documents"), "lang", "text",
      Map("en" -> 0.5, "fr" -> 0.25, "zh" -> 0.125), defaultRate = 0.0625)
      .select("doc_id", "lang")

  /** Integer epoch up-sampling (Sampling.mixtureUpsample): src0 ×3,
    * src1 ×2, src2 dropped, everything else ×1. */
  def q46MixtureUpsample(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureUpsample(t(spark, dir, "documents"), "source",
      Map("src0" -> 3, "src1" -> 2, "src2" -> 0), defaultFactor = 1)
      .select("doc_id", "source", "copy")

  /** The composed five-stage corpus clean (CleanCorpus.clean):
    * repetition gate → quality ≥0.7 → PII redact → exact dedup →
    * 4-gram decontamination vs the every-10th-doc benchmark. The
    * oracle replays the SAME five stages from the already-oracled
    * q41/q36/q43/q13/q42 SQL pieces — the composition (stage order,
    * gate-on-original vs dedup-on-redacted) is what q47 checks. */
  def q47CleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    CleanCorpus.clean(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", minQuality = 0.7, minWords = 5, shingleN = 4)
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")).as("text_md5"))
  }

  /** Global vocabulary heavy hitters: top-20 words by frequency with
    * a deterministic (n DESC, word ASC) tie-break so both engines
    * pick the same rows. Shape at scale: explode → ONE partial-agg
    * shuffle → bounded global top-k (TopK via sort+limit on the
    * already-aggregated word frame, not the raw token stream). */
  def q48VocabTopk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(20)

  /** Per-source language-mixture drift: KL(P(lang|source) ‖ P(lang)).
    * The mixture diagnostic a data pipeline tracks per ingest source.
    * Three partial-agg passes + broadcast joins on tiny aggregate
    * frames — no windows, nothing driver-side. */
  def q49LangMixKl(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bySrcLang = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val byLang = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val total = docs.agg(count(lit(1)).as("n_tot"))
    val p = col("n_sl").cast("double") / col("n_s")
    val q = col("n_l").cast("double") / col("n_tot")
    bySrcLang.join(bySrc, "source").join(broadcast(byLang), "lang")
      .crossJoin(broadcast(total))
      .groupBy("source")
      .agg(round(sum(p * log(p / q)), 6).as("kl"))
  }

  /** CCNet-style perplexity-proxy scoring (UnigramLM.scoreDocs):
    * per-doc mean token log-probability under the corpus's own
    * Laplace-smoothed unigram model. maxVocab=64 keeps a real OOV
    * population at test scale (the synthetic vocabulary is ~100
    * words); production uses 65536. */
  def q50UnigramLp(spark: SparkSession, dir: String): DataFrame =
    UnigramLM.scoreDocs(t(spark, dir, "documents"), "doc_id", "text", maxVocab = 64)

  /** GPT-style sequence-packing plan (Packing.packPlan): documents
    * laid end-to-end per source stream, cut every 512 tokens. */
  def q51PackPlan(spark: SparkSession, dir: String): DataFrame =
    Packing.packPlan(t(spark, dir, "documents"), "source", "doc_id", "text", budget = 512)

  /** BPE tokenizer trained on the corpus word histogram (50 merges,
    * 4096-word histogram), then applied distributed: per-doc BPE
    * token counts. Rows-only (the merge loop is not SQL-replayable);
    * BpeTrainerSpec pins the merge sequence on the published
    * walkthrough fixture and the distributed/driver encode parity. */
  def bpeTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = BpeTrainer.fit(docs, "text", nMerges = 50, maxVocab = 4096)
    BpeTrainer.tokenCounts(docs, "doc_id", "text", merges)
  }

  /** Per-label embedding centroids + per-dimension variance (cluster
    * diagnostics over the embeddings table): posexplode → ONE
    * partial-aggable groupBy(label, dim) — map-side combine keeps the
    * shuffle at |labels|·dims rows regardless of corpus size. */
  def q52LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        round(avg("v"), 6).as("mean_v"),
        round(var_samp("v"), 6).as("var_v"))

  /** Within-label inertia (k-means E-step diagnostic): mean squared
    * distance to the own-label centroid. The centroid frame is
    * |labels|·dims rows → broadcast back onto the exploded scan; two
    * partial-aggable groupBys, nothing driver-side. */
  def q53LabelInertia(spark: SparkSession, dir: String): DataFrame = {
    val ex = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
    val cent = ex.groupBy("label", "dim").agg(avg("v").as("mean_v"))
    ex.join(broadcast(cent), Seq("label", "dim"))
      .groupBy("vec_id", "label")
      .agg(sum(pow(col("v") - col("mean_v"), lit(2))).as("sq"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), round(avg("sq"), 6).as("inertia"))
  }

  /** Per-user event-type transition counts (behavioral bigrams): lag
    * window ordered by (ts, event_id) within user — deterministic
    * under timestamp ties — then one count agg. */
  def q54EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        lag("event_type", 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** TPC-H Q3-shaped shipping priority: 3-way join with filters
    * pushed to every scan, grouped revenue, bounded top-10 with a
    * fully deterministic (rounded revenue, date, key) order. The fact
    * joins stay shuffle joins (both sides scale); only the final
    * top-k is bounded. */
  def q55ShipPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp_ntz")
    t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(spark, dir, "orders").filter(col("o_orderdate") < cutoff),
        col("c_custkey") === col("o_custkey"))
      .join(t(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped local-supplier volume: the 6-table join with the
    * region/nation dims explicitly broadcast and the
    * customer-nation = supplier-nation locality predicate folded into
    * the supplier join. */
  def q56LocalVolume(spark: SparkSession, dir: String): DataFrame = {
    val y0 = lit("1997-01-01").cast("timestamp_ntz")
    val y1 = lit("1998-01-01").cast("timestamp_ntz")
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_orderdate") >= y0 && col("o_orderdate") < y1),
        col("c_custkey") === col("o_custkey"))
      .join(t(spark, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** ROLLUP corpus inventory: per (source, lang), per source, and
    * grand total in ONE grouping-sets pass (the partial-agg expansion
    * happens map-side; no extra scans for the subtotal levels).
    * grouping_id disambiguates subtotal rows from genuine nulls. */
  def q57RollupInventory(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .rollup("source", "lang")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))

  /** CUBE inventory — all four grouping-set levels of (source, lang)
    * in ONE pass (q57's ROLLUP sibling; the same map-side partial-agg
    * expansion covers the extra lang-only level, no extra scan). */
  def q59CubeInventory(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .cube("source", "lang")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))

  /** Windowed dedup — keep the FIRST row per key ordered by
    * (ts, event_id): the CDC/corpus-refresh "latest/first version per
    * key" shape. One shuffle on the dedup key; the deterministic
    * two-column order makes the survivor engine-independent under
    * timestamp ties. */
  def q60WindowDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
  }

  /** As-of join over the events table: every event looks up the most
    * recent prior-or-equal "marker" event of the same user (markers =
    * the deterministic event_id%10 subset, pre-aggregated unique per
    * (user, ts) as [[AsOf.asOfJoin]] requires). DuckDB twin is a
    * literal ASOF LEFT JOIN. */
  def q61AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val markers = ev.filter(col("event_id") % 10 === 0)
      .groupBy("user_id", "ts").agg(min("event_id").as("marker_id"))
    AsOf.asOfJoin(ev.select("event_id", "user_id", "ts", "event_type"),
      markers, Seq("user_id"), "ts")
  }

  /** Bucketed range join: events counted into per-user 2-hour
    * "campaign" windows opened by the event_id%20 subset — the
    * interval-containment shape (sessions, validity windows, campaign
    * attribution) that naively plans as a cartesian. One equi-shuffle
    * on (user, time-bin); see [[RangeJoin.bucketed]]. */
  def q62RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val intervals = ev.filter(col("event_id") % 20 === 0)
      .select(col("event_id").as("campaign_id"), col("user_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    RangeJoin.bucketed(ev.select("event_id", "user_id", "ts"), intervals,
      Seq("user_id"), "ts", "start_ts", "end_ts", binSeconds = 7200L)
      .groupBy(col("i_campaign_id").as("campaign_id"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Semi-structured extraction: parse the events table's JSON `props`
    * column ONCE with a declared schema (`from_json` stays inside
    * whole-stage codegen; schema-on-read, no UDF, no regex) and
    * aggregate the extracted field per event type. The at-scale shape
    * for JSON payload columns: one typed parse in the scan projection,
    * partial-aggable groupBy. */
  def q63JsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_type"),
        expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"))

  /** Cardinality telemetry — the per-partition-sketch shape a 100-TB
    * pipeline uses for distinct counts. The oracled columns are the
    * EXACT distincts (countDistinct plans as a two-phase hash
    * aggregate: per-partition distinct-collapse, then ONE shuffle of
    * the collapsed keys). The mergeable estimators whose bits DuckDB
    * cannot reproduce — hll_sketch_agg/hll_union_agg (Apache
    * DataSketches, the re-aggregatable store-a-sketch-per-day shape)
    * and approx_count_distinct (HLL++) — are gated in SketchSpec
    * within their published error bounds against these exact values. */
  def q64DistinctUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"))

  /** Bloom-pruned semi join (see [[BloomPrune]]): activity of users
    * who ever made a high-value purchase. The bloom stage prunes the
    * fact scan map-side before any shuffle; the trailing exact semi
    * join makes the composition ≡ the oracle's `IN` subquery. */
  def q65BloomPrune(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val keys = ev.filter(col("event_type") === "purchase" && col("value") > lit(150.0))
      .select("user_id").distinct()
    BloomPrune.semiJoinLong(ev, "user_id", keys, "user_id", expectedItems = 1L << 20)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
  }

  /** Time-bucketed downsampling (per-hour OHLC-style rollup): n /
    * min / max / first / last value per (event_type, hour). first and
    * last ride `min_by`/`max_by` over a (ts, event_id) struct — a
    * partial-aggregable single-shuffle plan (two-phase SortAggregate:
    * the struct buffer rules out hash agg, but the map side still
    * collapses each split to ≤|groups| rows before the shuffle),
    * where the naive window row_number spelling (the oracle's) would
    * shuffle every row and sort whole groups. At
    * 100 TB this is the telemetry-compaction shape: map-side combine
    * collapses each input split to ≤|groups| rows before the shuffle. */
  def q66TimeBuckets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("value"), 6).as("vmin"),
        round(max("value"), 6).as("vmax"),
        round(min_by(col("value"), struct(col("ts"), col("event_id"))), 6).as("v_first"),
        round(max_by(col("value"), struct(col("ts"), col("event_id"))), 6).as("v_last"))

  /** PMI edge weighting over event types co-occurring in a
    * (user, day) context — the KG-construction step that turns
    * co-occurrence counts into association strengths (edge weights).
    * Scale shape: contexts are built with ONE groupBy + collect_set
    * (bounded by the event-type domain), pairs are emitted in-place
    * with array `transform`/`slice` (no self-join — the oracle's
    * self-join spelling rescans and reshuffles the context table),
    * and the marginals are a tiny broadcast + one-row cross barrier. */
  /** Per-(user, day) context SETS in one pass: collect_set dedups the
    * raw event stream during partial aggregation, so the r5 pipeline's
    * standalone distinct (a full extra shuffle of the event rows,
    * recomputed once per consumer) is folded into the one groupBy
    * every consumer already needed. */
  private def eventContextSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .groupBy("user_id", "d")
      .agg(sort_array(collect_set(col("event_type"))).as("types"))

  /** Co-occurrence pair counts (ea < eb) via in-array pair emission
    * over the context sets — no context self-join. */
  private def cooccurrencePairs(sets: DataFrame): DataFrame =
    sets
      .select(explode(expr(
        "flatten(transform(types, (x, i) -> " +
          "transform(slice(types, i + 2, size(types)), y -> struct(x AS ea, y AS eb))))"))
        .as("p"))
      .select(col("p.ea").as("ea"), col("p.eb").as("eb"))
      .groupBy("ea", "eb").agg(count(lit(1)).as("nab"))

  def q67EventPmi(spark: SparkSession, dir: String): DataFrame = {
    // ONE event shuffle feeds all three aggregates: nCtx is the row
    // count of the set frame, the marginals explode its arrays (each
    // type appears once per context, exactly the old distinct-
    // membership count), pairs are the in-array emission — r5 ran the
    // scan+distinct three times over
    val sets = eventContextSets(spark, dir).localCheckpoint()
    val nCtx = sets.agg(count(lit(1)).as("n_ctx"))
    val marginals = sets.select(explode(col("types")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n_t"))
    cooccurrencePairs(sets)
      .join(broadcast(marginals.select(col("event_type").as("ea"), col("n_t").as("na"))), Seq("ea"))
      .join(broadcast(marginals.select(col("event_type").as("eb"), col("n_t").as("nb"))), Seq("eb"))
      .crossJoin(nCtx)
      .select(col("ea"), col("eb"), col("nab"),
        round(log((col("nab").cast("double") * col("n_ctx")) /
          (col("na").cast("double") * col("nb"))), 6).as("pmi"))
  }

  /** Weighted PageRank (5 fixed power-iteration rounds, d=0.85) over
    * the symmetrized event-type co-occurrence graph — entity
    * importance, the KG ranking step (see [[graft.kg.PageRank]] for
    * the distributed loop and its scale notes). Fixed rounds make the
    * result a deterministic function of the edge table, so the DuckDB
    * oracle simply UNROLLS the five rounds as chained CTEs with the
    * identical expression tree; convergence mode (`iterations=None`)
    * is gated separately in PageRankSpec against analytic fixtures
    * and an independent dense implementation. */
  def q68Pagerank(spark: SparkSession, dir: String): DataFrame = {
    // materialize the pair counts before symmetrizing: the union reads
    // `pairs` twice, and without the checkpoint each branch re-runs
    // the whole co-occurrence pipeline (2 shuffles over events) inside
    // PageRank's edge materialization
    val pairs = cooccurrencePairs(eventContextSets(spark, dir)).localCheckpoint()
    val edges = pairs.select(col("ea").as("src"), col("eb").as("dst"),
        col("nab").cast("double").as("weight"))
      .union(pairs.select(col("eb").as("src"), col("ea").as("dst"),
        col("nab").cast("double").as("weight")))
    graft.kg.PageRank.run(edges, damping = 0.85, iterations = Some(5))
      .select(col("vertex"), round(col("rank"), 6).as("rank"))
  }

  /** Weighted sampling without replacement, 5 docs per language,
    * weight = n_chars (longer docs proportionally likelier) — see
    * [[Sampling.weightedSample]] for the exp-ticket construction and
    * its scale notes. */
  def q69WeightedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
      t(spark, dir, "documents").select("doc_id", "lang", "n_chars", "text"),
      stratumCol = "lang", keyCol = "text", weightCol = "n_chars",
      tieCol = "doc_id", k = 5)
      .select("lang", "doc_id", "n_chars")

  /** Per-document top-5 TF-IDF terms with the smoothed IDF
    * (ln((N+1)/(df+1)) + 1, the scikit-learn `TfidfVectorizer`
    * default) — the relevance/keyword-extraction primitive behind the
    * reference's sentence-similarity retrieval
    * (few_shots_techniques.py:60-76 ranks by embedding cosine; this
    * is its sparse lexical twin). One explode pass over the corpus
    * feeds the (doc, term) TF aggregate; DF is a second aggregation
    * over the ALREADY-AGGREGATED tf frame (one row per doc×term, so
    * count(*) = document frequency) — the raw token stream is
    * shuffled exactly once. The df/vocab frame is aggregate-sized
    * (natural-language vocab grows sublinearly in corpus size) and
    * broadcast onto tf; N rides a 1-row broadcast cross join. The
    * per-doc top-k is a rank window — WindowGroupLimit pushes the
    * k=5 limit into the sort (PlanSpec pattern). Scores are rounded
    * to 6dp BEFORE ranking on both sides so ULP noise in ln cannot
    * reorder the cut. */
  def q70TfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // two consumers (scored join + df) — materialize once, don't
      // re-run the corpus explode per lineage (Verify-skill trap)
      .localCheckpoint()
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfr), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * (log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
      .select("doc_id", "term", "tf", "df", "tfidf")
  }

  /** Per-document top-5 BM25 terms (k1=1.2, b=0.75, Lucene idf =
    * ln(1 + (N - df + 0.5)/(df + 0.5))) — the ranking function behind
    * every lexical retrieval stage; extends q70's TF-IDF with
    * document-length normalization. Same one-raw-token-shuffle plan
    * as q70: doc length rides a window sum over the ALREADY-AGGREGATED
    * tf frame (re-shuffles doc×term rows, never raw tokens), the df
    * vocab frame broadcasts, and corpus stats (N, avgdl) are a 1-row
    * broadcast barrier computed from the tiny per-doc frame. Scores
    * rounded to 6dp BEFORE the rank window on both sides. */
  def q71Bm25Terms(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // three consumers (window, df, corpus stats) — materialize once
      .localCheckpoint()
    val withDl = tf.withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val scored = withDl.join(broadcast(dfr), "term").crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("bm25", round(col("idf") * col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("bm25").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= 5)
      .select("doc_id", "term", "tf", "dl", "df", "bm25")
  }

  /** Weekly cohort retention over the event stream: cohort = Monday
    * of each user's first activity, retention = distinct users per
    * (cohort, week offset). Per-user min is one partial-aggable
    * user-keyed shuffle; the (user, week) activity frame dedups
    * map-side before its shuffle; the join back to cohorts and the
    * final countDistinct reuse the same user-keyed layout. */
  def q72CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cohorts = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val activity = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    activity.join(cohorts, "user_id")
      .withColumn("week_offset", (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** Lexical keyword search: score every document against a fixed
    * 3-term query in ONE scan projection (distinct-term hit count,
    * then total matched-token frequency), keep matches, global
    * top-20 — planned as TakeOrderedAndProject, so no full sort and
    * nothing shuffles but the bounded per-partition top-k rows. The
    * inverted-index-free shape: at 100 TB a scan-side score-and-prune
    * beats building postings for one ad-hoc query; the precomputed-
    * postings twin is q28's winnowed fingerprint index. */
  def q73KeywordSearch(spark: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "merge", "window")
    val toks = filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))
    val nMatched = terms.map(tm => array_contains(toks, tm).cast("int"))
      .reduce(_ + _).cast("long")
    val totalTf =
      size(filter(toks, w => terms.map(tm => w === lit(tm)).reduce(_ || _))).cast("long")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), nMatched.as("n_matched"), totalTf.as("total_tf"))
      .where(col("n_matched") > 0)
      .orderBy(col("n_matched").desc, col("total_tf").desc, col("doc_id").asc)
      .limit(20)
  }

  /** Per-label feature standardization (z-score) of the embedding
    * matrix, reported as each vector's standardized L2 norm — the
    * scaling pass upstream of distance-based dedup/ANN. Per-(label,
    * dim) moments are aggregate-sized (|labels|·dims) → broadcast
    * back onto the exploded scan; constant dims (σ=0) contribute 0
    * by convention. Two partial-aggable shuffles total. */
  def q74ZscoreNorm(spark: SparkSession, dir: String): DataFrame = {
    val ex = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
    val stats = ex.groupBy("label", "dim")
      .agg(avg("v").as("mean_v"), stddev_pop("v").as("sd_v"))
    ex.join(broadcast(stats), Seq("label", "dim"))
      .withColumn("z",
        when(col("sd_v") > 0, (col("v") - col("mean_v")) / col("sd_v")).otherwise(lit(0.0)))
      .groupBy("vec_id", "label")
      .agg(round(sqrt(sum(col("z") * col("z"))), 4).as("z_norm"))
  }

  /** Ordered funnel (signup → view → purchase): stage k counts users
    * whose first stage-k event strictly follows their first stage-
    * (k−1) event. Each stage is a type-filtered user-keyed min — the
    * type filter prunes every scan, all three aggregates are
    * partial-aggable, and both joins share the user_id partitioning.
    * Output is the 3-row funnel. */
  def q75Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.where(col("event_type") === "view")
      .join(s1, "user_id").where(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val s3 = ev.where(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    def one(df: DataFrame, stage: Int, tpe: String) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stage).cast("long").as("stage"), lit(tpe).as("event_type"), col("n_users"))
    one(s1, 1, "signup").unionByName(one(s2, 2, "view")).unionByName(one(s3, 3, "purchase"))
  }

  /** Per-language decile profile of document length: NTILE(10) +
    * percent_rank over a (n_chars, doc_id)-ordered window, aggregated
    * to one row per (lang, decile). The tie-break on doc_id makes
    * both rank functions deterministic; Spark and DuckDB share the
    * SQL-standard ntile split (first n mod k buckets take the extra
    * row) and percent_rank = (rank-1)/(n-1). One shuffle on lang for
    * the window, then a partial-aggable groupBy on the same layout. */
  def q76LengthDeciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n_chars").asc, col("doc_id").asc)
    t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("pr", percent_rank().over(w))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        round(avg("pr"), 6).as("avg_pr"))
  }

  /** Daily event counts per type with a 7-day moving average (ROWS
    * BETWEEN 6 PRECEDING) and day-over-day delta — the telemetry
    * trend shape. The raw scan collapses to an aggregate-sized
    * (type, day) frame via one partial-aggable shuffle; both windows
    * then run on that tiny frame partitioned by event_type, never on
    * raw rows. Missing previous day ⇒ delta 0 by coalesce. */
  def q77MovingAverage(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy("event_type").orderBy(col("day").asc)
    daily
      .withColumn("ma7", round(avg("n").over(wOrd.rowsBetween(-6, 0)), 6))
      .withColumn("delta", (col("n") - coalesce(lag("n", 1).over(wOrd), col("n"))).cast("long"))
  }

  /** Wide→long melt of a per-language stats frame via the native
    * Dataset.unpivot (Spark's UNPIVOT): three metric columns become
    * (metric, value) rows. The wide frame is aggregate-sized (one row
    * per language) so the unpivot is free; the only shuffle is the
    * partial-aggable groupBy(lang) that builds it. */
  def q78UnpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))
    val wide = t(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        round(avg("n_chars"), 6).as("avg_chars"),
        round(avg(size(toks)), 6).as("avg_words"))
    wide.unpivot(Array(col("lang")),
      Array(col("n_docs"), col("avg_chars"), col("avg_words")), "metric", "value")
  }

  /** Per-user activity trend: least-squares slope (regr_slope) of
    * daily event count against day index — the engagement-drift
    * detector. The raw scan collapses to (user, day) counts in one
    * partial-aggable shuffle; regr_slope is itself partial-aggable
    * (sum/sum-of-products sketch), so the second shuffle carries six
    * doubles per user. Users with <3 active days are dropped (slope
    * undefined/noisy). */
  def q79UserTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily
      .withColumn("x", datediff(col("day"), lit("2020-01-01").cast("date")).cast("double"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        round(expr("regr_slope(CAST(n AS DOUBLE), x)"), 6).as("slope"))
      .where(col("n_days") >= 3)
  }

  /** Global triangle census of the part co-purchase graph (parts
    * sharing an order), plus the global clustering coefficient
    * 3·triangles / wedges. Edges come from ONE groupBy(order) with
    * in-array ordered-pair emission (the q67 PMI shape — no order-
    * level self-join), are deduped, then localCheckpointed so the
    * 3-way triangle join reuses materialized edges instead of
    * re-running the pair pipeline per join arm (Verify-skill
    * self-join trap). Triangles are counted by degree-orientation +
    * adjacency intersection (details inline); wedges = Σ d(d−1)/2
    * over the aggregate-sized degree frame. */
  def q80TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    // no pre-distinct on (order, part): collect_set dedups parts
    // within each order during the partial aggregation anyway, so the
    // r5 distinct was a full extra exchange of the line items for
    // nothing (guide §2.4: "a distinct on data that is already
    // unique" — here, unique-ified one operator later)
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = li.groupBy("ok").agg(sort_array(collect_set("pk")).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (p, i) -> transform(slice(ps, i + 2, size(ps)), q -> struct(p AS a, q AS b))))")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b")).distinct()
      .localCheckpoint()
    // r6: the degree frame feeds FOUR consumers (wedges, n_nodes and
    // both orientation joins) — materialize it once (it is aggregate-
    // sized: one row per node) instead of re-running the union+groupBy
    // over the edge table per consumer; n_nodes and wedges then come
    // out of ONE aggregate pass over it (plan went 50 Exchanges → 18)
    val deg = pairs.select(col("a").as("v")).unionAll(pairs.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("d") * (col("d") - 1) / lit(2)).as("wedges"))
    val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
    // Degree-oriented counting (the triangle count is orientation-
    // invariant, so the oracle SQL's id-oriented 3-way join agrees):
    // orient each edge toward the higher (degree, id) endpoint — the
    // resulting DAG's out-degrees are bounded by graph arboricity
    // (~√m), so per-node adjacency arrays stay small even on
    // power-law co-occurrence graphs. Each triangle has exactly one
    // node with two out-edges, so triangles = Σ over oriented edges
    // (u→v) of |N⁺(u) ∩ N⁺(v)| — two joins against the aggregate-
    // sized adjacency frame (one row per non-sink node) instead of
    // the wedge-materializing edge³ self-join (measured 4.5× faster
    // at sf0.1: 9.6 s → 2.1 s).
    val da = deg.select(col("v").as("a"), col("d").as("da"))
    val db = deg.select(col("v").as("b"), col("d").as("db"))
    // oriented feeds the adjacency aggregate AND the triangle join;
    // adj feeds both sides of that join — materialize each once
    val oriented = pairs.join(da, "a").join(db, "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint()
    // adjacency lists come out SORTED so the per-edge intersection can
    // run through the native sorted_overlap merge kernel (r6) instead
    // of array_intersect's per-row hash set — one sort per NODE at
    // aggregate size buys a linear merge per EDGE; counts are
    // identical on these duplicate-free lists
    graft.plans.SortedOverlapExpression.register(spark)
    val adj = oriented.groupBy("src").agg(sort_array(collect_list("dst")).as("ns"))
      .localCheckpoint()
    val tri = oriented
      .join(adj.select(col("src").as("u"), col("ns").as("nu")), col("src") === col("u"))
      .join(adj.select(col("src").as("w"), col("ns").as("nw")), col("dst") === col("w"), "left")
      .select(expr("sorted_overlap(nu, coalesce(nw, cast(array() as array<bigint>)))")
        .cast("long").as("c"))
      .agg(sum("c").as("n_triangles"))
    degStats.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("wedges"), 6).as("gcc"))
  }

  /** SCD2 intervalization of the purchase log: each purchase becomes
    * a validity interval [valid_from, valid_to) per user via lead(),
    * open-ended on the latest row — the history-table build behind
    * every point-in-time join (q61's asOfJoin consumes exactly this
    * shape). One shuffle on user_id; the type filter prunes the scan
    * before it. */
  def q81Scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("valid_from").asc, col("event_id").asc)
    t(spark, dir, "events")
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"), col("value"))
      .withColumn("valid_to", lead("valid_from", 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Pearson correlation / population covariance profile of the
    * lineitem numeric columns — the feature-drift screen before any
    * model-input change. Every statistic is a partial-aggable moment
    * sketch, so the whole answer is one map-side-combined scan with a
    * single 1-row merge. */
  def q82NumericCorr(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").agg(
      round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
      round(corr("l_extendedprice", "l_discount"), 6).as("corr_price_disc"),
      round(covar_pop("l_quantity", "l_extendedprice"), 6).as("covar_qty_price"),
      round(stddev_pop("l_quantity"), 6).as("sd_qty"),
      round(stddev_pop("l_extendedprice"), 6).as("sd_price"))

  /** Cohen's kappa between the observed event labels and a
    * deterministic second-rater perturbation (event_id % 7 → 'click',
    * % 11 → 'error') — the inter-annotator-agreement score for the
    * reference's user-vs-LLM label comparisons
    * (testingLLMperformance.py's containment check generalized to
    * chance-corrected agreement). Observed agreement is one
    * map-side-combined scan; expected agreement joins the two
    * aggregate-sized marginal frames (|labels| rows each), so nothing
    * row-scale ever shuffles. kappa = (po − pe)/(1 − pe), computed
    * unrounded and rounded only at the output. */
  def q83CohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "events").select(
      col("event_type").as("r1"),
      when(pmod(col("event_id"), lit(7)) === 0, lit("click"))
        .when(pmod(col("event_id"), lit(11)) === 0, lit("error"))
        .otherwise(col("event_type")).as("r2"))
    val tot = base.agg(count(lit(1)).cast("double").as("n"),
      avg((col("r1") === col("r2")).cast("int")).as("po"))
    val m1 = base.groupBy(col("r1").as("lab")).agg(count(lit(1)).cast("double").as("c1"))
    val m2 = base.groupBy(col("r2").as("lab")).agg(count(lit(1)).cast("double").as("c2"))
    val pe = m1.join(m2, Seq("lab"), "full_outer")
      .agg(sum(coalesce(col("c1"), lit(0.0)) * coalesce(col("c2"), lit(0.0))).as("s"))
    tot.crossJoin(pe)
      .select(round(col("po"), 6).as("po"),
        round(col("s") / (col("n") * col("n")), 6).as("pe"),
        round((col("po") - col("s") / (col("n") * col("n"))) /
          (lit(1.0) - col("s") / (col("n") * col("n"))), 6).as("kappa"))
  }

  /** Reliability-diagram bins for the confidence-calibration check —
    * the distributed form of the reference's confidence-estimation
    * analysis (get_answer_with_confidence / ROC in q32): probability
    * = fractional part of `value`, outcome = purchase indicator,
    * 10 equal-width bins with per-bin confidence, accuracy and
    * |conf − acc| gap. One partial-aggable shuffle of 10 groups. */
  def q84CalibrationBins(spark: SparkSession, dir: String): DataFrame =
    calibScored(spark, dir)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg("p"), 6).as("avg_conf"),
        round(avg("y"), 6).as("acc"),
        round(abs(avg(col("p")) - avg(col("y"))), 6).as("gap"))

  /** label/probability frame shared by q84/q85: y = purchase
    * indicator, p = frac(value) ∈ [0,1) (deterministic, identical
    * IEEE double arithmetic in Spark and DuckDB), bin = ⌊10p⌋. */
  private def calibScored(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      (col("event_type") === "purchase").cast("int").as("y"),
      (col("value") - floor(col("value"))).as("p"))
      .withColumn("bin", least(floor(col("p") * 10), lit(9.0)).cast("long"))

  /** Proper scoring rules over the same calibration frame: Brier
    * score, clamped log loss and expected calibration error
    * (bin-weighted |conf − acc|). Brier/log-loss are one
    * map-side-combined scan; ECE folds the 10-row bin frame — the
    * whole answer is one row from two aggregate-sized barriers. */
  def q85ScoringRules(spark: SparkSession, dir: String): DataFrame = {
    val scored = calibScored(spark, dir)
    val eps = lit(1e-15)
    val point = scored.agg(
      avg((col("p") - col("y")) * (col("p") - col("y"))).as("brier"),
      avg(-(col("y") * log(greatest(col("p"), eps)) +
        (lit(1) - col("y")) * log(greatest(lit(1.0) - col("p"), eps)))).as("logloss"))
    val ece = scored.groupBy("bin")
      .agg(count(lit(1)).cast("double").as("n"), avg("p").as("c"), avg("y").as("a"))
      .agg((sum(col("n") * abs(col("c") - col("a"))) / sum(col("n"))).as("ece"))
    point.crossJoin(ece)
      .select(round(col("brier"), 6).as("brier"),
        round(col("logloss"), 6).as("logloss"),
        round(col("ece"), 6).as("ece"))
  }

  /** Per-document lexical-diversity profile: token count, type count,
    * type-token ratio and Shannon term entropy, via the moment
    * identity H = ln(n) − Σ tf·ln(tf)/n so one (doc,term) aggregate
    * feeds everything — the q70/q71 single-raw-token-shuffle shape
    * with a second partial-aggable doc-keyed fold. The training-data
    * quality screen next to q25's heuristics. */
  def q86LexicalStats(spark: SparkSession, dir: String): DataFrame = {
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit(""))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("tf") * log(col("tf"))).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens"), 6).as("ttr"),
        round(log(col("n_tokens")) - col("s") / col("n_tokens"), 6).as("entropy"))
  }

  /** Retrieval-quality evaluation of the kNN arm (few-shot lookup /
    * ANN): per query vector (vec_id < 20), rank the rest of the
    * corpus by cosine (rounded to 4dp BEFORE the rank window, q16's
    * portability contract), keep top-10, report same-label hits and
    * reciprocal rank of the first hit — MRR/recall@k, the IR-metric
    * twin of q37's ANN recall gates. The 20-query side broadcasts;
    * the rank window gets WindowGroupLimit pushdown. */
  def q87RetrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.CosineSimilarityExpression.register(spark)
    val e = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    e.filter(col("vec_id") >= 20)
      .crossJoin(broadcast(qs))
      .withColumn("sim", round(expr("cosine_sim(v, qv)"), 4))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .groupBy("q_id", "q_label")
      .agg(sum((col("label") === col("q_label")).cast("int")).as("n_rel_top10"),
        round(coalesce(
          max(when(col("label") === col("q_label"), lit(1.0) / col("rk"))), lit(0.0)), 6)
          .as("rr"))
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ≡
    * SQL percentile_cont ≡ DuckDB quantile_cont: index p·(n−1),
    * linear interpolation) — the exact twin of q64's
    * approx_percentile sketch gate. Exact percentiles need the
    * group's values together, so this is ONE shuffle on the group
    * key; at 100 TB the sketch (mergeable, partial-aggable) is the
    * scale path and this the small-group/final-report path. */
  def q88GroupPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))

  /** Fixed-column pivot (long→wide crosstab) of daily event counts —
    * the explicit-values `groupBy().pivot(col, values)` form, which
    * plans as ONE partial-aggable aggregate with conditional counts
    * (no second pass to discover the column set, unlike the
    * values-free overload which runs a distinct job first — never do
    * that at 100 TB). Missing (day, type) cells are 0. */
  def q89PivotDaily(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val wide = t(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    wide.select(col("day") +: types.map(tp =>
      coalesce(col(tp), lit(0L)).cast("long").as(s"n_$tp")): _*)
  }

  /** Welch's unequal-variance two-sample t over a deterministic
    * user_id-parity split — the A/B significance screen. Every
    * moment is a conditional aggregate (avg/var_samp over a CASE, so
    * nulls drop out), making the whole test ONE map-side-combined
    * shuffle of |event_type| groups; the t statistic and
    * Welch–Satterthwaite df are post-aggregation arithmetic. p-values
    * need erf, which differs in last-ulp across engines — the
    * statistic + df ARE the portable contract. */
  def q90AbWelch(spark: SparkSession, dir: String): DataFrame = {
    val a = when(pmod(col("user_id"), lit(2)) === 0, col("value"))
    val b = when(pmod(col("user_id"), lit(2)) === 1, col("value"))
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(count(a).as("na"), count(b).as("nb"),
        avg(a).as("ma"), avg(b).as("mb"),
        var_samp(a).as("va"), var_samp(b).as("vb"))
      .select(col("event_type"), col("na"), col("nb"),
        round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
        round((col("ma") - col("mb")) /
          sqrt(col("va") / col("na") + col("vb") / col("nb")), 6).as("t_stat"),
        round({
          val se = col("va") / col("na") + col("vb") / col("nb")
          val qa = col("va") / col("na") * (col("va") / col("na"))
          val qb = col("vb") / col("nb") * (col("vb") / col("nb"))
          se * se / (qa / (col("na") - 1) + qb / (col("nb") - 1))
        }, 6).as("df_welch"))
  }

  /** Per-group Gini coefficient of the value distribution (rank
    * formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted
    * values, event_id tiebreak for determinism) — the concentration
    * screen behind corpus-mixture weighting. One shuffle on the
    * group key for the rank window; the groupBy reuses that layout. */
  def q91Gini(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
    t(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("i", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sx"),
        sum(col("i") * col("value")).as("six"))
      .select(col("event_type"), col("n"),
        round(lit(2.0) * col("six") / (col("n") * col("sx")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
  }

  /** Distributed logistic-regression training for confidence
    * calibration (the reference's "Model for calibrated confidence"
    * notebook: logistic regression on LLM logits → calibrated
    * probability; scoring with a broadcast weight vector is
    * Confidence.scala — THIS is the training side): 3 full-batch
    * gradient-descent iterations on (x = frac(value), intercept) vs
    * the purchase outcome, lr = 1. Each iteration is ONE
    * map-side-combined aggregate (two avg'd gradient moments); the
    * only driver traffic is the 2-double weight vector per iteration
    * — the canonical distributed-GD loop (same contract as
    * Canonicalize's iterative hash-min). The oracle unrolls the same
    * 3 iterations as a DuckDB CTE chain (q68's precedent). Output:
    * learned weights + training log-loss, rounded 6dp. */
  def q92LogisticGd(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "events")
      .select((col("event_type") === "purchase").cast("double").as("y"),
        (col("value") - floor(col("value"))).as("x"))
      .localCheckpoint() // 4 consumers: 3 gradient passes + final loss
    var (w1, w0) = (0.0, 0.0)
    for (_ <- 1 to 3) {
      val p = lit(1.0) / (lit(1.0) + exp(-(lit(w1) * col("x") + lit(w0))))
      val g = scored.agg(avg((p - col("y")) * col("x")).as("g1"),
        avg(p - col("y")).as("g0")).head()
      w1 -= g.getDouble(0); w0 -= g.getDouble(1)
    }
    val p = lit(1.0) / (lit(1.0) + exp(-(lit(w1) * col("x") + lit(w0))))
    val eps = lit(1e-15)
    scored.agg(
      round(lit(w1), 6).as("w1"), round(lit(w0), 6).as("w0"),
      round(avg(-(col("y") * log(greatest(p, eps)) +
        (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, eps)))), 6).as("logloss"))
  }

  /** TPC-H Q13 shape — distribution of orders per customer including
    * zero-order customers: left outer join then count-of-counts. The
    * outer join shuffles both sides on custkey once; both aggregates
    * are partial-aggable and the second one runs on the aggregate-
    * sized per-customer frame. The "customers with no orders" rows
    * that only an OUTER join can produce are the point of the shape
    * (an inner join + histogram silently drops the zero bucket). */
  def q93CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"))
    val o = t(spark, dir, "orders").select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_custkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
  }

  /** EXACT set-similarity self-join (token-set Jaccard ≥ 0.9) via
    * prefix filtering (PPJoin's core bound) — the exact-threshold
    * twin of q29's approximate LSH banding. Tokens are globally
    * ordered rare-first (df asc, term asc); if J(x,y) ≥ t then the
    * overlap is ≥ ⌈t·|x|⌉, so by pigeonhole any qualifying pair
    * shares a token inside each side's first |x| − ⌈t·|x|⌉ + 1
    * tokens. Only those prefix tokens are exploded; candidate ID
    * pairs come from the q29-style in-bucket emission (one
    * groupBy(term) shuffle, no all-pairs), are deduped as light
    * (a,b) rows, and ONLY then join the token arrays back for the
    * exact Jaccard filter — carrying arrays through the explode
    * would multiply shuffle bytes by the document length. The
    * oracle computes the same pairs brute-force (token equi-join
    * overlap counts): a candidate-set bug that loses a true pair
    * shows up as a row diff, so completeness of the prefix bound is
    * oracle-gated, not just asserted. */
  /** In-bucket pair-emission cap (r6, the VERDICT's q94 robustness
    * item): a prefix-term bucket of b docs emits O(b²) pairs inside
    * one task's lambda, so a pathological corpus (one token in every
    * doc's prefix window) must be dropped-and-logged, never silently
    * ground through. The cap sits
    * above this corpus's natural max bucket (951 at sf0.1), so the
    * oracle rows are unchanged. */
  val Q94MaxBucket = 4096

  def q94SimilarityJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.SortedOverlapExpression.register(spark)
    // deterministic quarter of the corpus (the q16/q87 bounding
    // pattern) — the plan shape is the operator; the subset keeps the
    // all-candidate stage inside the bench budget
    val toks = t(spark, dir, "documents")
      .where(pmod(col("doc_id"), lit(4)) === 0)
      .select(col("doc_id"),
        explode(array_distinct(
          filter(split(lower(col("text")), "[^a-z]+"), w => w =!= lit("")))).as("term"))
    val dfr = toks.groupBy("term").agg(count(lit(1)).as("df"))
    // `tsv` is the lexicographically re-sorted twin of the rare-first
    // `ts`: the prefix slice needs df order, the verify kernel below
    // needs binary-sorted inputs — sorting once per DOC here is far
    // cheaper than hashing once per candidate PAIR later
    val ordered = toks.join(broadcast(dfr), "term")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("term"))))
        .as("kts"))
      .select(col("doc_id"), expr("transform(kts, k -> k.term)").as("ts"))
      .withColumn("tsv", array_sort(col("ts")))
      .localCheckpoint() // 3 consumers: prefix explode + both array joins
    val pre = ordered.select(col("doc_id"), size(col("ts")).as("n"),
      explode(expr("slice(ts, 1, cast(size(ts) - ceil(0.9 * size(ts)) + 1 as int))")).as("term"))
    // bucket frame materialized once: the oversized-bucket audit and
    // the pair emission both read it
    val buckets = pre.groupBy("term")
      .agg(sort_array(collect_list(struct(col("doc_id").as("d"), col("n")))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .localCheckpoint()
    val over = buckets.filter(size(col("ds")) > Q94MaxBucket)
      .agg(count(lit(1)).as("nBuckets"), coalesce(sum(size(col("ds"))), lit(0L)).as("nRows"))
      .head()
    if (over.getLong(0) > 0)
      System.err.println(s"[graft.q94] dropped ${over.getLong(0)} prefix-term buckets " +
        s"(> $Q94MaxBucket members, ${over.getLong(1)} rows) from candidate generation — " +
        "pre-collapse exact duplicates to keep recall")
    // in-bucket emission with PPJoin's length filter applied IN the
    // array lambda: J ≥ t forces t·|y| ≤ |x| ≤ |y|/t, so
    // incompatible-size pairs never materialize (measured 2.6× fewer
    // candidates on this corpus)
    val cands = buckets.filter(size(col("ds")) <= Q94MaxBucket)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  filter(transform(slice(ds, i + 2, size(ds)),
          |                   y -> struct(x.d AS a, y.d AS b, x.n AS na, y.n AS nb)),
          |         p -> p.na >= 0.9 * p.nb AND p.nb >= 0.9 * p.na)))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .dropDuplicates("a", "b")
    // exact verify through the native codegen'd sorted_overlap merge
    // kernel — equals size(array_intersect(ta, tb)) on these
    // duplicate-free arrays (SortedOverlapExprSpec pins the parity)
    // at ~5× less per-pair cost: no per-row hash set, no boxing
    cands
      .join(ordered.select(col("doc_id").as("a"), col("tsv").as("ta")), "a")
      .join(ordered.select(col("doc_id").as("b"), col("tsv").as("tb")), "b")
      .select(col("a"), col("b"),
        expr("sorted_overlap(ta, tb)").cast("double").as("o"),
        size(col("ta")).as("na"), size(col("tb")).as("nb"))
      .withColumn("jaccard", col("o") / (col("na") + col("nb") - col("o")))
      .where(col("jaccard") >= 0.9)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Sessionization via Spark's NATIVE session_window (gap 600 s) —
    * the built-in operator form of q17's hand-rolled lag/flag
    * sessionizer. Semantics: an event extends its session iff it
    * starts strictly before prev_ts + gap, so a gap of EXACTLY 600 s
    * opens a new session (q17's `> 600` convention differs by that
    * boundary — both are pinned by their oracles); session end =
    * last ts + gap. One shuffle on user_id; SessionWindow merges
    * in-partition. */
  def q95SessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "600 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Salted equi-join through [[Skew.saltedJoin]] on a key made
    * deterministically hot (every user_id ≡ 0 mod 3 collapses to key
    * 0 — one key carrying a third of the fact table, the hot-entity
    * shape the north rule names): dim rows replicate per salt, fact
    * rows pick a deterministic salt, the join key becomes (key,
    * salt) so the hot key spreads over `salt` reducers. The oracle
    * is the PLAIN join — row-identical results are the correctness
    * claim of the rewrite, here oracle-gated rather than only
    * spec-asserted (SkewSpec). */
  def q96SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "events").select(
      when(pmod(col("user_id"), lit(3)) === 0, lit(0L))
        .otherwise(col("user_id")).as("k"),
      col("value"))
    val dim = fact.select("k").distinct()
      .withColumn("grp", pmod(col("k"), lit(7)).cast("long"))
    Skew.saltedJoin(fact, dim, "k", salt = 8)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  /** Lag-1 autocorrelation of the daily event-count series per type —
    * the seasonality/drift screen over telemetry. The raw scan
    * collapses to the aggregate-sized (type, day) frame in one
    * partial-aggable shuffle; the lag window and the corr() moment
    * sketch both run on that tiny frame in the same type-keyed
    * layout. Rows with no previous day drop out of corr (both
    * engines skip NULL pairs). */
  def q97Autocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
    daily.withColumn("prev", lag("n", 1).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), round(corr("n", "prev"), 6).as("acf1"))
  }

  /** Benford first-significant-digit profile of the value column:
    * observed share per digit vs the Benford expectation
    * log10(1 + 1/d) and the χ² contribution — the fabricated-data /
    * distribution-shift screen. The digit is extracted EXACTLY:
    * values carry 2 decimals, so round(v·100) is an integer whose
    * decimal rendering is identical in every engine and whose first
    * character is the significant digit — no log10/pow in the digit
    * path, where a 1-ulp libm difference could flip a floor. One
    * map-side-combined 9-group aggregate + a 1-row total broadcast. */
  def q98Benford(spark: SparkSession, dir: String): DataFrame = {
    val digits = t(spark, dir, "events")
      .where(col("value") > 0)
      .select(substring(round(col("value") * 100, 0).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").cast("double").as("total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("observed", col("n") / col("total"))
      .withColumn("expected", log10(lit(1.0) + lit(1.0) / col("digit")))
      .select(col("digit"), col("n"),
        round(col("observed"), 6).as("observed"),
        round(col("expected"), 6).as("expected"),
        round((col("observed") - col("expected")) * (col("observed") - col("expected")) /
          col("expected") * col("total"), 6).as("chi2"))
  }

  /** Weekday-vs-weekend event-mix shift: the event_type distribution
    * conditioned on day regime, with per-type total-variation and KL
    * contributions — the conditional-distribution drift screen (the
    * regime twin of q49's language-mix KL). Day-of-week is derived
    * portably as days-since-a-known-Monday mod 7 (Spark dayofweek is
    * 1=Sunday, DuckDB dayofweek is 0=Sunday — an off-by-one trap the
    * epoch arithmetic sidesteps). One partial-aggable shuffle of
    * |types| groups; regime totals ride a window over that tiny
    * frame. */
  def q99RegimeShift(spark: SparkSession, dir: String): DataFrame = {
    val wkend = pmod(datediff(to_date(col("ts")), lit("1970-01-05").cast("date")), lit(7)) >= 5
    val counts = t(spark, dir, "events")
      .groupBy("event_type")
      .agg(sum(wkend.cast("long")).as("cw"), sum((!wkend).cast("long")).as("cd"))
    val w = Window.partitionBy(lit(1))
    counts
      .withColumn("pw", col("cw") / sum("cw").over(w))
      .withColumn("pd", col("cd") / sum("cd").over(w))
      .select(col("event_type"), col("cw"), col("cd"),
        round(col("pw"), 6).as("p_weekend"),
        round(col("pd"), 6).as("p_weekday"),
        round(abs(col("pw") - col("pd")) / 2, 6).as("tvd_part"),
        round(col("pw") * log(col("pw") / col("pd")), 6).as("kl_part"))
  }

  /** Sequence-gap audit (ingestion-completeness check): exact missing
    * ranges of the event_id sequence, with deterministic holes
    * punched (ids ≡ 0 mod 97 dropped) so the result is non-trivial.
    * SCALE-SAFE spelling: a windowed lag with no PARTITION BY would
    * collapse to ONE partition — instead ids are bucketed (÷1000),
    * within-bucket gaps use a bucket-partitioned lag, and
    * cross-boundary gaps come from a lag over the aggregate-sized
    * per-bucket (min,max) frame; empty buckets cannot occur between
    * non-empty ones here because bucket ids come from surviving rows
    * and every 1000-id bucket keeps ≥ 989 ids. One id-bucket shuffle
    * of raw rows plus one tiny-frame window. */
  def q100IdGaps(spark: SparkSession, dir: String): DataFrame = {
    val ids = t(spark, dir, "events")
      .where(pmod(col("event_id"), lit(97)) =!= 0)
      .select(col("event_id").as("id"), (col("event_id") / 1000).cast("long").as("b"))
    val wIn = Window.partitionBy("b").orderBy(col("id").asc)
    val inner = ids.withColumn("prev", lag("id", 1).over(wIn))
      .where(col("prev").isNotNull && col("id") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("id") - 1).as("gap_end"))
    val bounds = ids.groupBy("b").agg(min("id").as("lo"), max("id").as("hi"))
    val wB = Window.orderBy(col("b").asc) // aggregate-sized frame only
    val boundary = bounds.withColumn("prev_hi", lag("hi", 1).over(wB))
      .where(col("prev_hi").isNotNull && col("lo") - col("prev_hi") > 1)
      .select((col("prev_hi") + 1).as("gap_start"), (col("lo") - 1).as("gap_end"))
    inner.unionByName(boundary)
      .withColumn("n_missing", col("gap_end") - col("gap_start") + 1)
  }

  /** One-pass column profile of the events table (the data-quality
    * screen before any training run): per column its null count and
    * distinct count, emitted long-form. All moments come from ONE
    * aggregate (multi-countDistinct plans as a single Expand +
    * aggregate pass); the wide 1-row result is melted with literal
    * selects, so no second scan. */
  def q101DataProfile(spark: SparkSession, dir: String): DataFrame = {
    val wide = t(spark, dir, "events").agg(
      count(lit(1)).as("n"),
      sum(col("event_type").isNull.cast("long")).as("null_t"),
      countDistinct(col("event_type")).as("dist_t"),
      sum(col("user_id").isNull.cast("long")).as("null_u"),
      countDistinct(col("user_id")).as("dist_u"),
      sum(col("value").isNull.cast("long")).as("null_v"),
      countDistinct(col("value")).as("dist_v"))
    def one(colName: String, nn: String, dd: String) =
      wide.select(lit(colName).as("column"), col("n"),
        col(nn).as("n_null"), col(dd).as("n_distinct"))
    one("event_type", "null_t", "dist_t")
      .unionByName(one("user_id", "null_u", "dist_u"))
      .unionByName(one("value", "null_v", "dist_v"))
  }

  /** Weighted median per group (weight = 1 + user_id mod 3, a
    * deterministic per-row weight standing in for the corpus-mixing
    * weights of q46/q69): the first value, in (value, event_id)
    * order, whose running weight reaches half the group total — the
    * weighted-quantile primitive behind mixture rebalancing. One
    * shuffle on the group key; the cumulative window and the
    * half-total broadcast both reuse that layout (the total rides a
    * partition-wide window, not a second scan). */
  def q102WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "events").select(
      col("event_type"), col("value"), col("event_id"),
      (lit(1) + pmod(col("user_id"), lit(3))).cast("double").as("wt"))
    val wOrd = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    val wAll = Window.partitionBy("event_type")
    val ranked = base
      .withColumn("cumw", sum("wt").over(wOrd))
      .withColumn("total", sum("wt").over(wAll))
      .where(col("cumw") >= col("total") / 2)
    val w1 = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    ranked.withColumn("rk", row_number().over(w1)).where(col("rk") === 1)
      .select(col("event_type"), round(col("value"), 2).as("weighted_median"),
        round(col("total"), 1).as("total_weight"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_weighted_median" -> q102WeightedMedian,
    "q101_data_profile" -> q101DataProfile,
    "q100_id_gaps" -> q100IdGaps,
    "q99_regime_shift" -> q99RegimeShift,
    "q98_benford" -> q98Benford,
    "q97_autocorr" -> q97Autocorr,
    "q96_salted_join" -> q96SaltedJoin,
    "q95_session_window" -> q95SessionWindow,
    "q94_similarity_join" -> q94SimilarityJoin,
    "q93_custdist" -> q93CustDist,
    "q92_logistic_gd" -> q92LogisticGd,
    "q91_gini" -> q91Gini,
    "q90_ab_welch" -> q90AbWelch,
    "q89_pivot_daily" -> q89PivotDaily,
    "q88_group_percentiles" -> q88GroupPercentiles,
    "q87_retrieval_mrr" -> q87RetrievalMrr,
    "q86_lexical_stats" -> q86LexicalStats,
    "q85_scoring_rules" -> q85ScoringRules,
    "q84_calibration_bins" -> q84CalibrationBins,
    "q83_cohens_kappa" -> q83CohensKappa,
    "q82_numeric_corr" -> q82NumericCorr,
    "q81_scd2_intervals" -> q81Scd2Intervals,
    "q80_triangle_count" -> q80TriangleCount,
    "q79_user_trend" -> q79UserTrend,
    "q78_unpivot_metrics" -> q78UnpivotMetrics,
    "q77_moving_average" -> q77MovingAverage,
    "q76_length_deciles" -> q76LengthDeciles,
    "q75_funnel" -> q75Funnel,
    "q74_zscore_norm" -> q74ZscoreNorm,
    "q73_keyword_search" -> q73KeywordSearch,
    "q72_cohort_retention" -> q72CohortRetention,
    "q71_bm25_terms" -> q71Bm25Terms,
    "q70_tfidf_terms" -> q70TfidfTerms,
    "q69_weighted_sample" -> q69WeightedSample,
    "q68_pagerank" -> q68Pagerank,
    "q65_bloom_prune" -> q65BloomPrune,
    "q66_time_buckets" -> q66TimeBuckets,
    "q67_event_pmi" -> q67EventPmi,
    "q64_distinct_users" -> q64DistinctUsers,
    "q63_json_extract" -> q63JsonExtract,
    "q61_asof_join" -> q61AsOfJoin,
    "q62_range_join" -> q62RangeJoin,
    "q59_cube_inventory" -> q59CubeInventory,
    "q60_window_dedup" -> q60WindowDedup,
    "q57_rollup_inventory" -> q57RollupInventory,
    "q55_ship_priority" -> q55ShipPriority,
    "q56_local_volume" -> q56LocalVolume,
    "q53_label_inertia" -> q53LabelInertia,
    "q54_event_transitions" -> q54EventTransitions,
    "q52_label_centroids" -> q52LabelCentroids,
    "text_bpe_tokens" -> bpeTokenCounts,
    "q51_pack_plan" -> q51PackPlan,
    "q50_unigram_lp" -> q50UnigramLp,
    "q48_vocab_topk" -> q48VocabTopk,
    "q49_lang_mix_kl" -> q49LangMixKl,
    "q47_clean_corpus" -> q47CleanCorpus,
    "q43_pii_scrub" -> q43PiiScrub,
    "q44_token_quantiles" -> q44TokenQuantiles,
    "q45_stratified_sample" -> q45StratifiedSample,
    "q46_mixture_upsample" -> q46MixtureUpsample,
    "q41_repetition" -> q41Repetition,
    "q42_contamination" -> q42Contamination,
    "q37_lsh_ann" -> q37LshAnn,
    "q40_ivf_ann" -> q40IvfAnn,
    "q38_confusion_matrix" -> q38ConfusionMatrix,
    "q39_weighted_prf" -> q39WeightedPrf,
    "q35_connected_components" -> q35ConnectedComponents,
    "q36_text_quality" -> q36TextQuality,
    "q31_logit_confidence" -> q31LogitConfidence,
    "q32_roc" -> q32Roc,
    "q33_pivot" -> q33Pivot,
    "q34_media_decode" -> q34MediaDecode,
    "q30_blocked_link" -> q30BlockedLink,
    "q28_winnow_postings" -> q28WinnowPostings,
    "q29_lsh_jaccard" -> q29LshJaccard,
    "q24_auc" -> q24Auc,
    "q25_nested_flatten" -> q25NestedFlatten,
    "q26_label_check" -> q26LabelCheck,
    "q27_salted_count" -> q27SaltedCount,
    "q21_intersect" -> q21Intersect,
    "q22_topk_global" -> q22TopkGlobal,
    "q23_minmax_norm" -> q23MinMaxNorm,
    "q01_pricing_agg" -> q01PricingAgg,
    "q02_topk_window" -> q02TopkWindow,
    "q03_margin_confidence" -> q03MarginConfidence,
    "q04_anti_join" -> q04AntiJoin,
    "q05_outer_align" -> q05OuterAlign,
    "q06_maxconf" -> q06MaxConf,
    "q07_date_norm" -> q07DateNorm,
    "q08_sha_docs" -> q08ShaDocs,
    "q09_levenshtein" -> q09Levenshtein,
    "q10_except" -> q10Except,
    "q11_token_count" -> q11TokenCount,
    "q12_collect_set" -> q12CollectSet,
    "q13_dedup_exact" -> q13DedupExact,
    "q14_histogram" -> q14Histogram,
    "q15_jaro_link" -> q15JaroLink,
    "q16_ann_brute_force" -> q16AnnBruteForce,
    "q17_sessionize" -> q17Sessionize,
    "q18_mean_of_means" -> q18MeanOfMeans,
    "q19_dim_join" -> q19DimJoin,
    "q20_numeric_filter" -> q20NumericFilter,
  )

  /** DuckDB oracle SQL — same table names, same output column names,
    * same rounding. */
  private val enStopList: String =
    graft.functions.TextAnalytics.EnStopwords
      .map(s => "'" + s.replace("'", "''") + "'") // SQL-escape: list edits must not break the oracle
      .mkString("[", ",", "]")

  /** Shared alignment CTE chain for q38/q39 — the relational
    * re-derivation of Metrics.align's per-(conv,turn) dict semantics:
    * dicts = max(tag) per mention (align sorts then toMap → last tag
    * wins), sanitized pred list keeps multiplicity, gold contributes
    * the rows whose mention the sanitized dict lacks. */
  private val cmCte: String =
    """WITH base AS (
      |  SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id % 5 AS turn_idx,
      |         'm' || (event_id % 13) AS mention, event_id
      |  FROM events),
      |tags(i, tag) AS (VALUES (0,'PER'),(1,'LOC'),(2,'ORG'),(3,'None')),
      |gold AS (
      |  SELECT b.conv_id, b.turn_idx, b.mention, t.tag
      |  FROM base b JOIN tags t ON t.i = b.event_id % 4
      |  WHERE b.event_id % 9 <> 0),
      |pred AS (
      |  SELECT b.conv_id, b.turn_idx, b.mention, t.tag
      |  FROM base b JOIN tags t
      |    ON t.i = (b.event_id % 4 + CASE WHEN b.event_id % 5 = 0 THEN 1 ELSE 0 END) % 4
      |  WHERE b.event_id % 7 <> 0),
      |pred_san AS (SELECT * FROM pred WHERE tag <> 'None'),
      |results_nes AS (SELECT conv_id, turn_idx, mention, max(tag) AS ptag
      |                FROM pred_san GROUP BY 1, 2, 3),
      |gold_nes AS (SELECT conv_id, turn_idx, mention, max(tag) AS gtag
      |             FROM gold GROUP BY 1, 2, 3),
      |rows_all AS (
      |  SELECT conv_id, turn_idx, mention FROM pred_san
      |  UNION ALL
      |  SELECT g.conv_id, g.turn_idx, g.mention FROM gold g
      |  WHERE NOT EXISTS (SELECT 1 FROM results_nes r
      |    WHERE r.conv_id = g.conv_id AND r.turn_idx = g.turn_idx
      |      AND r.mention = g.mention)),
      |cm AS (
      |  SELECT coalesce(gn.gtag, 'None') AS y_true,
      |         coalesce(pn.ptag, 'None') AS y_pred, count(*) AS n
      |  FROM rows_all a
      |  LEFT JOIN gold_nes gn ON gn.conv_id = a.conv_id
      |    AND gn.turn_idx = a.turn_idx AND gn.mention = a.mention
      |  LEFT JOIN results_nes pn ON pn.conv_id = a.conv_id
      |    AND pn.turn_idx = a.turn_idx AND pn.mention = a.mention
      |  GROUP BY 1, 2)""".stripMargin

  /** q40's codebook as a SQL VALUES literal — the SAME
    * [[portablePlanes]](8, 64) doubles the Scala kernel receives
    * (entries are exact x.5 values; Double.toString is
    * locale-independent). */
  private val ivfCentLiterals: String =
    portablePlanes(8, 64).zipWithIndex
      .map { case (row, c) => s"($c, [${row.mkString(",")}]::DOUBLE[])" }
      .mkString(", ")

  val oracle: Map[String, String] = Map(
    "q102_weighted_median" ->
      """WITH base AS (
        |  SELECT event_type, value, event_id,
        |    (1 + user_id % 3)::DOUBLE AS wt
        |  FROM events),
        |ranked AS (
        |  SELECT event_type, value,
        |    sum(wt) OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(wt) OVER (PARTITION BY event_type) AS total
        |  FROM base),
        |hit AS (
        |  SELECT event_type, value, total,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cumw ASC) AS rk
        |  FROM ranked WHERE cumw >= total / 2)
        |SELECT event_type, round(value, 2) AS weighted_median,
        |  round(total, 1) AS total_weight
        |FROM hit WHERE rk = 1""".stripMargin,
    "q100_id_gaps" ->
      """WITH ids AS (
        |  SELECT event_id AS id FROM events WHERE event_id % 97 <> 0)
        |SELECT prev + 1 AS gap_start, id - 1 AS gap_end,
        |  (id - prev - 1)::BIGINT AS n_missing
        |FROM (SELECT id, lag(id) OVER (ORDER BY id) AS prev FROM ids)
        |WHERE prev IS NOT NULL AND id - prev > 1""".stripMargin,
    "q101_data_profile" ->
      """SELECT 'event_type' AS "column", count(*)::BIGINT AS n,
        |  sum((event_type IS NULL)::INT)::BIGINT AS n_null,
        |  count(DISTINCT event_type)::BIGINT AS n_distinct FROM events
        |UNION ALL
        |SELECT 'user_id', count(*)::BIGINT, sum((user_id IS NULL)::INT)::BIGINT,
        |  count(DISTINCT user_id)::BIGINT FROM events
        |UNION ALL
        |SELECT 'value', count(*)::BIGINT, sum((value IS NULL)::INT)::BIGINT,
        |  count(DISTINCT value)::BIGINT FROM events""".stripMargin,
    "q99_regime_shift" ->
      """WITH counts AS (
        |  SELECT event_type,
        |    sum(((ts::DATE - DATE '1970-01-05') % 7 >= 5)::INT)::BIGINT AS cw,
        |    sum(((ts::DATE - DATE '1970-01-05') % 7 < 5)::INT)::BIGINT AS cd
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(cw)::DOUBLE AS tw, sum(cd)::DOUBLE AS td FROM counts)
        |SELECT event_type, cw, cd,
        |  round(cw / tw, 6) AS p_weekend,
        |  round(cd / td, 6) AS p_weekday,
        |  round(abs(cw / tw - cd / td) / 2, 6) AS tvd_part,
        |  round(cw / tw * ln((cw / tw) / (cd / td)), 6) AS kl_part
        |FROM counts, tot""".stripMargin,
    "q97_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::DOUBLE AS n
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day ASC) AS prev
        |  FROM daily)
        |SELECT event_type, count(*)::BIGINT AS n_days,
        |  round(corr(n, prev), 6) AS acf1
        |FROM lagged GROUP BY 1""".stripMargin,
    "q98_benford" ->
      """WITH digits AS (
        |  SELECT substr(round(value * 100, 0)::BIGINT::VARCHAR, 1, 1)::BIGINT AS digit,
        |    count(*)::BIGINT AS n
        |  FROM events WHERE value > 0 GROUP BY 1),
        |tot AS (SELECT sum(n)::DOUBLE AS total FROM digits)
        |SELECT digit, n,
        |  round(n / total, 6) AS observed,
        |  round(log10(1.0 + 1.0 / digit), 6) AS expected,
        |  round((n / total - log10(1.0 + 1.0 / digit))
        |    * (n / total - log10(1.0 + 1.0 / digit))
        |    / log10(1.0 + 1.0 / digit) * total, 6) AS chi2
        |FROM digits, tot""".stripMargin,
    "q95_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 600000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 600 SECOND AS session_end,
        |  count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q96_salted_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS k, value
        |  FROM events),
        |dim AS (SELECT DISTINCT k, (k % 7)::BIGINT AS grp FROM fact)
        |SELECT grp, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
        |FROM fact JOIN dim USING (k)
        |GROUP BY 1""".stripMargin,
    "q94_similarity_join" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS term
        |  FROM documents WHERE doc_id % 4 = 0),
        |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM toks GROUP BY 1),
        |ov AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*)::BIGINT AS o
        |  FROM toks a JOIN toks b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, round(o::DOUBLE / (x.n + y.n - o), 6) AS jaccard
        |FROM ov JOIN sz x ON ov.a = x.doc_id JOIN sz y ON ov.b = y.doc_id
        |WHERE o::DOUBLE / (x.n + y.n - o) >= 0.9""".stripMargin,
    "q93_custdist" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_custkey)::BIGINT AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,
    "q92_logistic_gd" -> {
      val iter = (k: Int) =>
        s"""it$k AS (
           |  SELECT w.w1 - avg((1.0/(1.0+exp(-(w.w1*x + w.w0))) - y) * x) AS w1,
           |    w.w0 - avg(1.0/(1.0+exp(-(w.w1*x + w.w0))) - y) AS w0
           |  FROM scored, it${k - 1} w GROUP BY w.w1, w.w0)""".stripMargin
      """WITH scored AS (
        |  SELECT (event_type = 'purchase')::INT::DOUBLE AS y,
        |    value - floor(value) AS x
        |  FROM events),
        |it0 AS (SELECT 0.0 AS w1, 0.0 AS w0),
        |""".stripMargin +
        (1 to 3).map(iter).mkString(",\n") +
        """
          |SELECT round(w.w1, 6) AS w1, round(w.w0, 6) AS w0,
          |  round(avg(-(y * ln(greatest(1.0/(1.0+exp(-(w.w1*x + w.w0))), 1e-15))
          |    + (1.0 - y) * ln(greatest(1.0 - 1.0/(1.0+exp(-(w.w1*x + w.w0))), 1e-15)))), 6)
          |    AS logloss
          |FROM scored, it3 w GROUP BY w.w1, w.w0""".stripMargin
    },
    "q88_group_percentiles" ->
      """SELECT event_type, count(*)::BIGINT AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1""".stripMargin,
    "q89_pivot_daily" ->
      """SELECT ts::DATE AS day,
        |  sum((event_type = 'click')::INT)::BIGINT AS n_click,
        |  sum((event_type = 'view')::INT)::BIGINT AS n_view,
        |  sum((event_type = 'purchase')::INT)::BIGINT AS n_purchase,
        |  sum((event_type = 'signup')::INT)::BIGINT AS n_signup,
        |  sum((event_type = 'error')::INT)::BIGINT AS n_error
        |FROM events GROUP BY 1""".stripMargin,
    "q90_ab_welch" ->
      """WITH m AS (
        |  SELECT event_type,
        |    count(CASE WHEN user_id % 2 = 0 THEN 1 END)::BIGINT AS na,
        |    count(CASE WHEN user_id % 2 = 1 THEN 1 END)::BIGINT AS nb,
        |    avg(CASE WHEN user_id % 2 = 0 THEN value END) AS ma,
        |    avg(CASE WHEN user_id % 2 = 1 THEN value END) AS mb,
        |    var_samp(CASE WHEN user_id % 2 = 0 THEN value END) AS va,
        |    var_samp(CASE WHEN user_id % 2 = 1 THEN value END) AS vb
        |  FROM events GROUP BY 1)
        |SELECT event_type, na, nb,
        |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
        |  round((va / na + vb / nb) * (va / na + vb / nb)
        |    / ((va / na) * (va / na) / (na - 1)
        |      + (vb / nb) * (vb / nb) / (nb - 1)), 6) AS df_welch
        |FROM m""".stripMargin,
    "q91_gini" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS i
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n,
        |  round(2.0 * sum(i * value) / (count(*) * sum(value))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r GROUP BY 1""".stripMargin,
    "q83_cohens_kappa" ->
      """WITH base AS (
        |  SELECT event_type AS r1,
        |    CASE WHEN event_id % 7 = 0 THEN 'click'
        |         WHEN event_id % 11 = 0 THEN 'error'
        |         ELSE event_type END AS r2
        |  FROM events),
        |tot AS (SELECT count(*)::DOUBLE AS n, avg((r1 = r2)::INT) AS po FROM base),
        |m1 AS (SELECT r1 AS lab, count(*)::DOUBLE AS c1 FROM base GROUP BY 1),
        |m2 AS (SELECT r2 AS lab, count(*)::DOUBLE AS c2 FROM base GROUP BY 1),
        |pe AS (SELECT sum(coalesce(c1, 0) * coalesce(c2, 0)) AS s
        |  FROM m1 FULL JOIN m2 USING (lab))
        |SELECT round(po, 6) AS po,
        |  round(s / (n * n), 6) AS pe,
        |  round((po - s / (n * n)) / (1 - s / (n * n)), 6) AS kappa
        |FROM tot, pe""".stripMargin,
    "q84_calibration_bins" ->
      """WITH scored AS (
        |  SELECT (event_type = 'purchase')::INT AS y,
        |    value - floor(value) AS p,
        |    least(floor((value - floor(value)) * 10), 9.0)::BIGINT AS bin
        |  FROM events)
        |SELECT bin, count(*)::BIGINT AS n,
        |  round(avg(p), 6) AS avg_conf,
        |  round(avg(y), 6) AS acc,
        |  round(abs(avg(p) - avg(y)), 6) AS gap
        |FROM scored GROUP BY 1""".stripMargin,
    "q85_scoring_rules" ->
      """WITH scored AS (
        |  SELECT (event_type = 'purchase')::INT AS y,
        |    value - floor(value) AS p,
        |    least(floor((value - floor(value)) * 10), 9.0)::BIGINT AS bin
        |  FROM events),
        |point AS (
        |  SELECT avg((p - y) * (p - y)) AS brier,
        |    avg(-(y * ln(greatest(p, 1e-15))
        |      + (1 - y) * ln(greatest(1.0 - p, 1e-15)))) AS logloss
        |  FROM scored),
        |bins AS (SELECT bin, count(*)::DOUBLE AS n, avg(p) AS c, avg(y) AS a
        |  FROM scored GROUP BY 1),
        |e AS (SELECT sum(n * abs(c - a)) / sum(n) AS ece FROM bins)
        |SELECT round(brier, 6) AS brier, round(logloss, 6) AS logloss,
        |  round(ece, 6) AS ece
        |FROM point, e""".stripMargin,
    "q86_lexical_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
        |SELECT doc_id, sum(tf)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |  round(count(*) / sum(tf)::DOUBLE, 6) AS ttr,
        |  round(ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf), 6) AS entropy
        |FROM tf GROUP BY 1""".stripMargin,
    "q87_retrieval_mrr" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT q.q_id, q.q_label, e.vec_id, e.label,
        |    round(list_cosine_similarity(e.embedding, q.qv), 4) AS sim
        |  FROM embeddings e, q WHERE e.vec_id >= 20),
        |top AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
        |  FROM scored)
        |SELECT q_id, q_label,
        |  sum((label = q_label)::INT)::BIGINT AS n_rel_top10,
        |  round(coalesce(max(CASE WHEN label = q_label THEN 1.0::DOUBLE / rk END), 0), 6) AS rr
        |FROM top WHERE rk <= 10 GROUP BY 1, 2""".stripMargin,
    "q76_length_deciles" ->
      """WITH ranked AS (
        |  SELECT lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS decile,
        |    percent_rank() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS pr
        |  FROM documents)
        |SELECT lang, decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
        |  min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars,
        |  round(avg(pr), 6) AS avg_pr
        |FROM ranked GROUP BY 1, 2""".stripMargin,
    "q77_moving_average" ->
      """WITH daily AS (
        |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |  round(avg(n) OVER (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7,
        |  (n - coalesce(lag(n) OVER (PARTITION BY event_type ORDER BY day ASC), n))::BIGINT AS delta
        |FROM daily""".stripMargin,
    "q78_unpivot_metrics" ->
      """WITH wide AS (
        |  SELECT lang, count(*)::DOUBLE AS n_docs,
        |    round(avg(n_chars), 6) AS avg_chars,
        |    round(avg(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> ''))), 6) AS avg_words
        |  FROM documents GROUP BY 1)
        |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM wide
        |UNION ALL SELECT lang, 'avg_chars', avg_chars FROM wide
        |UNION ALL SELECT lang, 'avg_words', avg_words FROM wide""".stripMargin,
    "q79_user_trend" ->
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, count(*)::BIGINT AS n_days,
        |  round(regr_slope(n::DOUBLE, date_diff('day', DATE '2020-01-01', day)::DOUBLE), 6) AS slope
        |FROM daily GROUP BY 1 HAVING count(*) >= 3""".stripMargin,
    "q80_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT v, count(*)::BIGINT AS d
        |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
        |tri AS (SELECT count(*)::BIGINT AS n_triangles
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
        |  (SELECT count(*) FROM e)::BIGINT AS n_edges,
        |  n_triangles,
        |  round(3.0 * n_triangles / (SELECT sum(d * (d - 1) / 2.0) FROM deg), 6) AS gcc
        |FROM tri""".stripMargin,
    "q81_scd2_intervals" ->
      """SELECT user_id, event_id, ts AS valid_from, value,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL AS is_current
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q82_numeric_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        |  round(covar_pop(l_quantity, l_extendedprice), 6) AS covar_qty_price,
        |  round(stddev_pop(l_quantity), 6) AS sd_qty,
        |  round(stddev_pop(l_extendedprice), 6) AS sd_price
        |FROM lineitem""".stripMargin,
    "q71_bm25_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        |wd AS (SELECT tf.*, sum(tf) OVER (PARTITION BY doc_id)::BIGINT AS dl FROM tf),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
        |  FROM (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1)),
        |scored AS (
        |  SELECT wd.doc_id, wd.term, wd.tf, wd.dl, df.df,
        |    round(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
        |      * wd.tf * 2.2
        |      / (wd.tf + 1.2 * (0.25 + 0.75 * wd.dl / stats.avgdl)), 6) AS bm25
        |  FROM wd JOIN df USING (term) CROSS JOIN stats)
        |SELECT doc_id, term, tf, dl, df, bm25 FROM (
        |  SELECT scored.*, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) AS rk
        |  FROM scored)
        |WHERE rk <= 5""".stripMargin,
    "q72_cohort_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, date_trunc('week', min(ts))::DATE AS cohort_week
        |  FROM events GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week FROM events)
        |SELECT cohort_week,
        |  (date_diff('day', cohort_week, week) / 7)::BIGINT AS week_offset,
        |  count(DISTINCT user_id)::BIGINT AS n_users
        |FROM activity JOIN cohorts USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q73_keyword_search" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    (list_contains(toks, 'spark')::INT + list_contains(toks, 'merge')::INT
        |      + list_contains(toks, 'window')::INT)::BIGINT AS n_matched,
        |    len(list_filter(toks, x -> x IN ('spark', 'merge', 'window')))::BIGINT AS total_tf
        |  FROM (SELECT doc_id, lang,
        |      list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |    FROM documents))
        |SELECT doc_id, lang, n_matched, total_tf FROM scored
        |WHERE n_matched > 0
        |ORDER BY n_matched DESC, total_tf DESC, doc_id ASC
        |LIMIT 20""".stripMargin,
    "q74_zscore_norm" ->
      """WITH ex AS (
        |  SELECT vec_id, label, u.i - 1 AS dim, embedding[u.i]::DOUBLE AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |stats AS (
        |  SELECT label, dim, avg(v) AS mean_v, stddev_pop(v) AS sd_v
        |  FROM ex GROUP BY 1, 2),
        |z AS (
        |  SELECT vec_id, ex.label AS label,
        |    CASE WHEN sd_v > 0 THEN (v - mean_v) / sd_v ELSE 0.0 END AS z
        |  FROM ex JOIN stats ON ex.label = stats.label AND ex.dim = stats.dim)
        |SELECT vec_id, label, round(sqrt(sum(z * z)), 4) AS z_norm
        |FROM z GROUP BY 1, 2""".stripMargin,
    "q75_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT user_id, min(ts) AS t2 FROM events JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
        |s3 AS (
        |  SELECT user_id, min(ts) AS t3 FROM events JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
        |SELECT 1::BIGINT AS stage, 'signup' AS event_type,
        |  (SELECT count(*) FROM s1)::BIGINT AS n_users
        |UNION ALL SELECT 2::BIGINT, 'view', (SELECT count(*) FROM s2)::BIGINT
        |UNION ALL SELECT 3::BIGINT, 'purchase', (SELECT count(*) FROM s3)::BIGINT""".stripMargin,
    "q70_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, tfidf FROM (
        |  SELECT scored.*, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM scored)
        |WHERE rk <= 5""".stripMargin,
    "q69_weighted_sample" -> {
      val hex4 = (c: Int) =>
        s"(ascii(substr(h,$c,1)) - CASE WHEN ascii(substr(h,$c,1)) >= 97 THEN 87 ELSE 48 END)"
      s"""WITH tk AS (SELECT doc_id, lang, n_chars, md5(text) AS h FROM documents),
         |tv AS (SELECT doc_id, lang, n_chars,
         |  ${hex4(1)} * 4096 + ${hex4(2)} * 256 +
         |  ${hex4(3)} * 16 + ${hex4(4)} AS ticket FROM tk),
         |s AS (SELECT doc_id, lang, n_chars,
         |  -ln((ticket + 1)::DOUBLE / 65537.0) / n_chars::DOUBLE AS score FROM tv),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |                                   ORDER BY score, doc_id) AS rn FROM s)
         |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 5""".stripMargin
    },
    "q68_pagerank" -> {
      val iterTpl = (k: Int) =>
        s"""r$k AS (
           |  SELECT v.vertex,
           |    (1.0-0.85)/(SELECT n FROM nn) + 0.85*coalesce(s.inflow, 0.0) AS rank
           |  FROM v LEFT JOIN (
           |    SELECT t.dst AS vertex, sum(t.p * r.rank) AS inflow
           |    FROM trans t JOIN r${k - 1} r ON t.src = r.vertex GROUP BY 1) s
           |  USING (vertex))""".stripMargin
      """WITH ue AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |            FROM events),
        |pairs AS (SELECT a.event_type AS ea, b.event_type AS eb, count(*) AS nab
        |          FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.d = b.d
        |           AND a.event_type < b.event_type GROUP BY 1, 2),
        |edges AS (SELECT ea AS src, eb AS dst, nab::DOUBLE AS weight FROM pairs
        |          UNION ALL
        |          SELECT eb AS src, ea AS dst, nab::DOUBLE AS weight FROM pairs),
        |v AS (SELECT DISTINCT src AS vertex FROM edges),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM v),
        |wout AS (SELECT src, sum(weight) AS wout FROM edges GROUP BY 1),
        |trans AS (SELECT e.src, e.dst, e.weight / w.wout AS p
        |          FROM edges e JOIN wout w USING (src)),
        |r0 AS (SELECT vertex, 1.0/(SELECT n FROM nn) AS rank FROM v),
        |""".stripMargin +
        (1 to 5).map(iterTpl).mkString(",\n") +
        "\nSELECT vertex, round(rank, 6) AS rank FROM r5"
    },
    "q65_bloom_prune" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE user_id IN (SELECT user_id FROM events
        |                  WHERE event_type = 'purchase' AND value > 150.0)
        |GROUP BY 1""".stripMargin,
    "q66_time_buckets" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |                  value, ts, event_id FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |                     ORDER BY ts, event_id) AS rn_a,
        |  row_number() OVER (PARTITION BY event_type, bucket
        |                     ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM b)
        |SELECT event_type, bucket, count(*) AS n,
        |  round(min(value), 6) AS vmin, round(max(value), 6) AS vmax,
        |  round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS v_first,
        |  round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS v_last
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q67_event_pmi" ->
      """WITH ue AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |            FROM events),
        |c AS (SELECT event_type, count(*) AS n_t FROM ue GROUP BY 1),
        |tot AS (SELECT count(*) AS n_ctx
        |        FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)),
        |p AS (SELECT a.event_type AS ea, b.event_type AS eb, count(*) AS nab
        |      FROM ue a JOIN ue b
        |        ON a.user_id = b.user_id AND a.d = b.d
        |       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT ea, eb, nab,
        |  round(ln(nab::DOUBLE * n_ctx / (ca.n_t::DOUBLE * cb.n_t)), 6) AS pmi
        |FROM p, tot, c ca, c cb
        |WHERE ca.event_type = ea AND cb.event_type = eb""".stripMargin,
    "q64_distinct_users" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days
        |FROM events GROUP BY 1""".stripMargin,
    "q63_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  sum(CAST(props->>'k' AS BIGINT))::BIGINT AS sum_k,
        |  round(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k
        |FROM events GROUP BY 1""".stripMargin,
    "q61_asof_join" ->
      """WITH r AS (
        |  SELECT user_id, ts, min(event_id) AS marker_id
        |  FROM events WHERE event_id % 10 = 0 GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, l.ts, l.event_type,
        |  r.marker_id AS r_marker_id, r.ts AS r_ts
        |FROM events l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,
    "q62_range_join" ->
      """WITH i AS (
        |  SELECT event_id AS campaign_id, user_id, ts AS start_ts,
        |    ts + INTERVAL 2 HOUR AS end_ts
        |  FROM events WHERE event_id % 20 = 0)
        |SELECT i.campaign_id, count(*) AS n_events
        |FROM i JOIN events e ON e.user_id = i.user_id
        |  AND e.ts >= i.start_ts AND e.ts <= i.end_ts
        |GROUP BY 1""".stripMargin,
    "q59_cube_inventory" ->
      """SELECT source, lang, grouping(source, lang) AS gid,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |GROUP BY CUBE (source, lang)""".stripMargin,
    "q60_window_dedup" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1""".stripMargin,
    "q57_rollup_inventory" ->
      """SELECT source, lang, grouping(source, lang) AS gid,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
        |FROM documents
        |GROUP BY ROLLUP (source, lang)""".stripMargin,
    "q55_ship_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,
    "q56_local_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,
    "q53_label_inertia" ->
      """WITH ex AS (
        |  SELECT vec_id, label, u.i AS i, embedding[u.i]::DOUBLE AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |cent AS (SELECT label, i, avg(v) AS mean_v FROM ex GROUP BY 1, 2),
        |per AS (
        |  SELECT vec_id, label, sum((v - mean_v) * (v - mean_v)) AS sq
        |  FROM ex JOIN cent USING (label, i) GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs, round(avg(sq), 6) AS inertia
        |FROM per GROUP BY label""".stripMargin,
    "q54_event_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type, count(*) AS n
        |FROM s WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q52_label_centroids" ->
      """SELECT label, u.i - 1 AS dim, count(*) AS n,
        |  round(avg(embedding[u.i]), 6) AS mean_v,
        |  round(var_samp(embedding[u.i]), 6) AS var_v
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        |GROUP BY 1, 2""".stripMargin,
    "q51_pack_plan" ->
      """WITH n AS (
        |  SELECT source, doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> ''))::BIGINT AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT source, doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
        |  FROM n)
        |SELECT source, doc_id, n_tokens, start,
        |  CAST(floor(start / 512.0) AS BIGINT) AS seq_id,
        |  (start % 512)::BIGINT AS "offset"
        |FROM s""".stripMargin,
    "q50_unigram_lp" ->
      """WITH wx AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        |  FROM documents),
        |counts AS (SELECT word, count(*) AS n FROM wx GROUP BY word),
        |tot AS (SELECT sum(n) AS total, count(*) AS dv FROM counts),
        |model AS (
        |  SELECT word, ln((n + 1)::DOUBLE / (total + least(dv, 64) + 1)) AS logprob
        |  FROM (SELECT word, n FROM counts ORDER BY n DESC, word ASC LIMIT 64)
        |  CROSS JOIN tot),
        |denom AS (SELECT (total + least(dv, 64) + 1)::DOUBLE AS d FROM tot)
        |SELECT doc_id, count(*) AS n_words,
        |  round(avg(coalesce(m.logprob, ln(1.0 / d.d))), 6) AS mean_logprob
        |FROM wx LEFT JOIN model m USING (word) CROSS JOIN denom d
        |GROUP BY doc_id""".stripMargin,
    "q48_vocab_topk" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |    x -> x <> '')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin,
    "q49_lang_mix_kl" ->
      """WITH sl AS (SELECT source, lang, count(*) AS n_sl FROM documents GROUP BY 1, 2),
        |s AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |l AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |t AS (SELECT count(*) AS n_tot FROM documents)
        |SELECT source,
        |  round(sum((n_sl::DOUBLE / n_s) *
        |    ln((n_sl::DOUBLE / n_s) / (n_l::DOUBLE / n_tot))), 6) AS kl
        |FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN t
        |GROUP BY source""".stripMargin,
    "q47_clean_corpus" ->
      s"""WITH w0 AS (
        |  SELECT doc_id, lang, source, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS w
        |  FROM documents),
        |corp AS (SELECT * FROM w0 WHERE doc_id % 10 <> 0),
        |bench AS (SELECT * FROM w0 WHERE doc_id % 10 = 0),
        |cb AS (SELECT doc_id, w, len(w) AS nw FROM corp),
        |uni AS (
        |  SELECT doc_id, count(DISTINCT x) AS du
        |  FROM (SELECT doc_id, unnest(w) AS x FROM cb) GROUP BY doc_id),
        |g2 AS (
        |  SELECT doc_id, max(c) AS mx2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 1),
        |        i -> w[i] || ' ' || w[i + 1])) AS g FROM cb)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, max(c) AS mx3 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 2),
        |        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g FROM cb)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 4),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
        |      FROM cb)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |rep_bad AS (
        |  SELECT cb.doc_id FROM cb LEFT JOIN uni USING (doc_id)
        |    LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id) LEFT JOIN g5 USING (doc_id)
        |  WHERE (nw >= 2 AND mx2::DOUBLE / (nw - 1) > 0.20)
        |     OR (nw >= 3 AND mx3::DOUBLE / (nw - 2) > 0.18)
        |     OR (nw >= 5 AND coalesce(dup5, 0)::DOUBLE / (nw - 4) > 0.30)
        |     OR (nw > 0 AND du::DOUBLE / nw < 0.20)),
        |keep1 AS (SELECT * FROM corp WHERE doc_id NOT IN (SELECT doc_id FROM rep_bad)),
        |qb AS (
        |  SELECT doc_id, len(text) AS n,
        |    CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digit,
        |    CAST(len(text) - len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS ws,
        |    w
        |  FROM keep1 WHERE len(text) > 0),
        |qc AS (
        |  SELECT doc_id, n, alpha, digit, CAST(n AS DOUBLE) - alpha - digit - ws AS punct,
        |    CAST(len(w) AS DOUBLE) AS n_words,
        |    CAST(len(list_filter(w, x -> list_contains($enStopList, x))) AS DOUBLE) AS stop_hits
        |  FROM qb),
        |q_ok AS (
        |  SELECT doc_id FROM qc
        |  WHERE n_words >= 5 AND greatest(0.0, least(1.0,
        |    0.35 * (alpha / n) +
        |    0.25 * least(1.0, (CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END) * 4) +
        |    0.20 * least(1.0, n_words / 20.0) +
        |    0.20 * (1.0 - least(1.0, digit / n * 3 + punct / n * 2)))) >= 0.7),
        |red AS (
        |  SELECT doc_id, lang, source,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '${Privacy.EmailRe}', '<EMAIL>', 'g'),
        |      '${Privacy.PhoneRe}', '<PHONE>', 'g'),
        |      '${Privacy.Ipv4Re}', '<IP>', 'g') AS text
        |  FROM keep1 WHERE doc_id IN (SELECT doc_id FROM q_ok)),
        |dd AS (
        |  SELECT * FROM red
        |  WHERE doc_id IN (SELECT min(doc_id) FROM red GROUP BY md5(text))),
        |dsh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 3),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
        |    FROM (SELECT doc_id,
        |            list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS w
        |          FROM dd))),
        |bsh AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(generate_series(1, len(w) - 3),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
        |    FROM bench)),
        |bad AS (SELECT DISTINCT doc_id FROM dsh JOIN bsh USING (g))
        |SELECT doc_id, lang, source, md5(text) AS text_md5
        |FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,
    "q43_pii_scrub" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail' || (doc_id % 7) || '.com' ||
        |    ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
        |    lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ||
        |    ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) || '.' || ((doc_id * 5) % 256) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '${Privacy.EmailRe}')) AS n_emails,
        |  len(regexp_extract_all(t, '${Privacy.PhoneRe}')) AS n_phones,
        |  len(regexp_extract_all(t, '${Privacy.Ipv4Re}')) AS n_ips,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '${Privacy.EmailRe}', '<EMAIL>', 'g'),
        |    '${Privacy.PhoneRe}', '<PHONE>', 'g'),
        |    '${Privacy.Ipv4Re}', '<IP>', 'g')) AS redacted_md5
        |FROM p""".stripMargin,
    "q44_token_quantiles" ->
      """WITH w AS (
        |  SELECT lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS nw
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(nw), 6) AS mean_words,
        |  round(quantile_cont(nw, 0.25), 6) AS p25,
        |  round(quantile_cont(nw, 0.50), 6) AS p50,
        |  round(quantile_cont(nw, 0.75), 6) AS p75,
        |  round(quantile_cont(nw, 0.90), 6) AS p90
        |FROM w GROUP BY lang""".stripMargin,
    "q45_stratified_sample" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, md5(text) AS h FROM documents),
        |tv AS (
        |  SELECT doc_id, lang,
        |    (ascii(substr(h,1,1)) - CASE WHEN ascii(substr(h,1,1)) >= 97 THEN 87 ELSE 48 END) * 4096 +
        |    (ascii(substr(h,2,1)) - CASE WHEN ascii(substr(h,2,1)) >= 97 THEN 87 ELSE 48 END) * 256 +
        |    (ascii(substr(h,3,1)) - CASE WHEN ascii(substr(h,3,1)) >= 97 THEN 87 ELSE 48 END) * 16 +
        |    (ascii(substr(h,4,1)) - CASE WHEN ascii(substr(h,4,1)) >= 97 THEN 87 ELSE 48 END) AS ticket
        |  FROM tk)
        |SELECT doc_id, lang FROM tv
        |WHERE ticket < CASE lang WHEN 'en' THEN 32768 WHEN 'fr' THEN 16384
        |                         WHEN 'zh' THEN 8192 ELSE 4096 END""".stripMargin,
    "q46_mixture_upsample" ->
      """SELECT doc_id, source, unnest(generate_series(1, f)) AS copy
        |FROM (SELECT doc_id, source,
        |        CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
        |                    WHEN 'src2' THEN 0 ELSE 1 END AS f
        |      FROM documents)""".stripMargin,
    "q41_repetition" ->
      """WITH w0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w, len(w) AS nw FROM w0),
        |uni AS (
        |  SELECT doc_id, count(DISTINCT x) AS du
        |  FROM (SELECT doc_id, unnest(w) AS x FROM b) GROUP BY doc_id),
        |g2 AS (
        |  SELECT doc_id, max(c) AS mx2 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 1),
        |        i -> w[i] || ' ' || w[i + 1])) AS g FROM b)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, max(c) AS mx3 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 2),
        |        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g FROM b)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup5 FROM (
        |    SELECT doc_id, g, count(*) AS c FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, nw - 4),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
        |      FROM b)
        |    GROUP BY doc_id, g) GROUP BY doc_id)
        |SELECT b.doc_id, nw AS n_words,
        |  round(CASE WHEN nw = 0 THEN 0.0 ELSE du::DOUBLE / nw END, 6) AS distinct_word_ratio,
        |  round(CASE WHEN nw < 2 THEN 0.0 ELSE mx2::DOUBLE / (nw - 1) END, 6) AS top2gram_frac,
        |  round(CASE WHEN nw < 3 THEN 0.0 ELSE mx3::DOUBLE / (nw - 2) END, 6) AS top3gram_frac,
        |  round(CASE WHEN nw < 5 THEN 0.0 ELSE coalesce(dup5, 0)::DOUBLE / (nw - 4) END, 6) AS dup5gram_frac,
        |  CASE WHEN (nw >= 2 AND mx2::DOUBLE / (nw - 1) > 0.20)
        |         OR (nw >= 3 AND mx3::DOUBLE / (nw - 2) > 0.18)
        |         OR (nw >= 5 AND coalesce(dup5, 0)::DOUBLE / (nw - 4) > 0.30)
        |         OR (nw > 0 AND du::DOUBLE / nw < 0.20)
        |       THEN 1 ELSE 0 END AS repetitive
        |FROM b LEFT JOIN uni USING (doc_id) LEFT JOIN g2 USING (doc_id)
        |  LEFT JOIN g3 USING (doc_id) LEFT JOIN g5 USING (doc_id)""".stripMargin,
    "q42_contamination" ->
      """WITH w0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g FROM w0)),
        |bench AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id % 10 = 0),
        |corp AS (SELECT doc_id, g FROM sh WHERE doc_id % 10 <> 0)
        |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared,
        |       count(DISTINCT b.bench_id) AS n_bench_docs
        |FROM corp c JOIN bench b ON b.g = c.g
        |GROUP BY c.doc_id""".stripMargin,
    "q40_ivf_ann" ->
      s"""WITH cents(c, cv) AS (VALUES $ivfCentLiterals),
        |aff AS (
        |  SELECT e.vec_id, c.c,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv), 6) AS a
        |  FROM embeddings e, cents c),
        |assign AS (
        |  SELECT vec_id, c FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, c) AS rn
        |    FROM aff) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, c FROM (
        |    SELECT vec_id, c,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, c) AS rn
        |    FROM aff WHERE vec_id < 5) WHERE rn <= 3),
        |cand AS (
        |  SELECT p.query_id, s.vec_id
        |  FROM probes p JOIN assign s USING (c)
        |  WHERE s.vec_id <> p.query_id),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim
        |  FROM cand cd
        |  JOIN embeddings e ON e.vec_id = cd.vec_id
        |  JOIN embeddings q ON q.vec_id = cd.query_id)
        |SELECT query_id, vec_id, sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, vec_id) AS rn FROM scored)
        |WHERE rn <= 10""".stripMargin,
    "q37_lsh_ann" ->
      """WITH sig AS (
        |  SELECT vec_id, embedding,
        |    (list_sum(list_transform(generate_series(0, 5), p ->
        |      CASE WHEN list_sum(list_transform(generate_series(0, 63), j ->
        |        embedding[j + 1]::DOUBLE *
        |          ((ascii(substr(md5(p || ':' || j), 1, 1)) -
        |            CASE WHEN ascii(substr(md5(p || ':' || j), 1, 1)) >= 97
        |                 THEN 87 ELSE 48 END) - 7.5)
        |      )) >= 0 THEN 1 << p ELSE 0 END)))::BIGINT AS bits
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qvec, bits AS qbits
        |      FROM sig WHERE vec_id < 5),
        |cand AS (
        |  SELECT q.query_id, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec::DOUBLE[]), 4) AS sim
        |  FROM sig e, q
        |  WHERE e.vec_id <> q.query_id AND bit_count(xor(e.bits, q.qbits)) <= 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, vec_id) AS rn FROM cand)
        |SELECT query_id, vec_id, sim FROM r WHERE rn <= 10""".stripMargin,
    "q38_confusion_matrix" ->
      s"$cmCte\nSELECT y_true, y_pred, n FROM cm",
    "q39_weighted_prf" ->
      s"""$cmCte,
        |sup AS (SELECT y_true AS label, sum(n) AS support FROM cm GROUP BY 1),
        |predt AS (SELECT y_pred AS label, sum(n) AS pred_total FROM cm GROUP BY 1),
        |diag AS (SELECT y_true AS label, sum(n) AS tp FROM cm WHERE y_true = y_pred GROUP BY 1),
        |per AS (
        |  SELECT s.label, s.support::DOUBLE AS support,
        |    coalesce(d.tp, 0)::DOUBLE AS tp, coalesce(p.pred_total, 0)::DOUBLE AS pt
        |  FROM sup s LEFT JOIN diag d USING (label) LEFT JOIN predt p USING (label)),
        |m AS (
        |  SELECT support,
        |    CASE WHEN pt = 0 THEN 0.0 ELSE tp / pt END AS p,
        |    CASE WHEN support = 0 THEN 0.0 ELSE tp / support END AS r
        |  FROM per),
        |f AS (SELECT support, p, r,
        |        CASE WHEN p + r = 0 THEN 0.0 ELSE 2 * p * r / (p + r) END AS f1
        |      FROM m)
        |SELECT round(sum(support * p) / sum(support), 6) AS precision,
        |       round(sum(support * r) / sum(support), 6) AS recall,
        |       round(sum(support * f1) / sum(support), 6) AS f1,
        |       round(sum(support * f1) / sum(support), 6) AS f1_agg,
        |       sum(support)::BIGINT AS support
        |FROM f""".stripMargin,
    "q35_connected_components" ->
      """WITH RECURSIVE
        |u AS (SELECT DISTINCT user_id FROM events),
        |e0 AS (
        |  SELECT 'u:' || user_id AS src, 'c:' || (user_id // 10) AS dst FROM u
        |  UNION
        |  SELECT 'c:' || (user_id // 10) AS src, 'C:' || (user_id // 100) AS dst FROM u),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |reach(node, label) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        |SELECT node AS vertex, min(label) AS component FROM reach GROUP BY node""".stripMargin,
    "q36_text_quality" ->
      s"""WITH b AS (
        |  SELECT doc_id, len(text) AS n,
        |    CAST(len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
        |    CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digit,
        |    CAST(len(text) - len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS ws,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS w
        |  FROM documents WHERE len(text) > 0),
        |c AS (
        |  SELECT doc_id, n, alpha, digit, CAST(n AS DOUBLE) - alpha - digit - ws AS punct,
        |    CAST(len(w) AS DOUBLE) AS n_words,
        |    CAST(len(list_filter(w, x -> list_contains($enStopList, x))) AS DOUBLE) AS stop_hits,
        |    CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) AS sum_len
        |  FROM b)
        |SELECT doc_id, n AS n_chars, CAST(n_words AS BIGINT) AS n_words,
        |  round(alpha / n, 6) AS alpha_ratio,
        |  round(digit / n, 6) AS digit_ratio,
        |  round(punct / n, 6) AS punct_ratio,
        |  round(CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END, 6) AS stopword_ratio,
        |  round(CASE WHEN n_words = 0 THEN 0.0 ELSE sum_len / n_words END, 6) AS avg_word_len,
        |  round(greatest(0.0, least(1.0,
        |    0.35 * (alpha / n) +
        |    0.25 * least(1.0, (CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits / n_words END) * 4) +
        |    0.20 * least(1.0, n_words / 20.0) +
        |    0.20 * (1.0 - least(1.0, digit / n * 3 + punct / n * 2)))), 6) AS quality
        |FROM c""".stripMargin,
    "q31_logit_confidence" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    ascii(substr(md5(text), 1, 1)) / 16.0 AS l0,
        |    ascii(substr(md5(text), 2, 1)) / 16.0 AS l1,
        |    ascii(substr(md5(text), 3, 1)) / 16.0 AS l2
        |  FROM documents),
        |a AS (
        |  SELECT *,
        |    CASE WHEN l0 >= l1 AND l0 >= l2 THEN 0 WHEN l1 >= l2 THEN 1 ELSE 2 END AS oi,
        |    least(l0, l1, l2) AS mn, greatest(l0, l1, l2) AS mx
        |  FROM l WHERE NOT (l0 = l1 AND l1 = l2)),
        |b AS (
        |  SELECT *, CASE oi WHEN 0 THEN l0 WHEN 1 THEN l1 ELSE l2 END AS lo FROM a)
        |SELECT doc_id, oi,
        |  round(exp(lo) / (exp(l0) + exp(l1) + exp(l2)), 6) AS conf_softmax,
        |  round(exp(lo - mn) / (exp(l0 - mn) + exp(l1 - mn) + exp(l2 - mn)), 6) AS conf_softmax_min,
        |  round(exp(lo - mx) / (exp(l0 - mx) + exp(l1 - mx) + exp(l2 - mx)), 6) AS conf_softmax_max,
        |  round(lo / (l0 + l1 + l2), 6) AS conf_proba_direct,
        |  round(lo - mn / ((l0 - mn) + (l1 - mn) + (l2 - mn)), 6) AS conf_proba_centered,
        |  round(lo, 6) AS conf_transparent,
        |  round(1.0 / (1.0 + exp(-(-1.5 + 0.9 * l0 + 0.9 * l1 + 0.9 * l2))), 6) AS calibrated
        |FROM b""".stripMargin,
    "q32_roc" ->
      """WITH g AS (
        |  SELECT round(value, 2) AS s,
        |         count(*) FILTER (WHERE event_type = 'purchase') AS np,
        |         count(*) FILTER (WHERE event_type <> 'purchase') AS nn
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT s,
        |    sum(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtp,
        |    sum(nn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumfp,
        |    sum(np) OVER () AS npos, sum(nn) OVER () AS nneg
        |  FROM g)
        |SELECT s AS threshold,
        |  round(cumfp * 1.0 / nneg, 6) AS fpr,
        |  round(cumtp * 1.0 / npos, 6) AS tpr
        |FROM c""".stripMargin,
    "q33_pivot" ->
      """SELECT user_id,
        |  round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS view,
        |  round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS click,
        |  round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
        |  round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
        |  round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS error
        |FROM events GROUP BY user_id""".stripMargin,
    "q34_media_decode" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    strlen(text) AS n_bytes,
        |    md5(text) AS m
        |  FROM documents),
        |v AS (
        |  SELECT *,
        |    ascii(substr(m, 1, 1)) - CASE WHEN ascii(substr(m, 1, 1)) >= 97 THEN 87 ELSE 48 END AS h1,
        |    ascii(substr(m, 2, 1)) - CASE WHEN ascii(substr(m, 2, 1)) >= 97 THEN 87 ELSE 48 END AS h2,
        |    ascii(substr(m, 3, 1)) - CASE WHEN ascii(substr(m, 3, 1)) >= 97 THEN 87 ELSE 48 END AS h3,
        |    ascii(substr(m, 4, 1)) - CASE WHEN ascii(substr(m, 4, 1)) >= 97 THEN 87 ELSE 48 END AS h4,
        |    ascii(substr(m, 5, 1)) - CASE WHEN ascii(substr(m, 5, 1)) >= 97 THEN 87 ELSE 48 END AS h5,
        |    ascii(substr(m, 6, 1)) - CASE WHEN ascii(substr(m, 6, 1)) >= 97 THEN 87 ELSE 48 END AS h6,
        |    ascii(substr(m, 7, 1)) - CASE WHEN ascii(substr(m, 7, 1)) >= 97 THEN 87 ELSE 48 END AS h7,
        |    ascii(substr(m, 8, 1)) - CASE WHEN ascii(substr(m, 8, 1)) >= 97 THEN 87 ELSE 48 END AS h8
        |  FROM h)
        |SELECT media_id, modality, n_bytes,
        |  64 + h1 * 16 + h2 AS width,
        |  64 + h3 * 16 + h4 AS height,
        |  CASE WHEN modality = 'image' THEN 0
        |       ELSE 500 + (h5 * 4096 + h6 * 256 + h7 * 16 + h8) % 60000 END AS duration_ms,
        |  m AS content_md5
        |FROM v""".stripMargin,
    "q30_blocked_link" ->
      """WITH m AS (SELECT p_name AS m_name, split_part(p_name, ' ', 1) AS bkey
        |           FROM part WHERE p_partkey % 2 = 0),
        |c AS (SELECT p_name AS e_name, split_part(p_name, ' ', 1) AS bkey
        |      FROM part WHERE p_partkey % 2 = 1),
        |cand AS (SELECT DISTINCT m_name, e_name FROM m JOIN c USING (bkey)),
        |scored AS (SELECT m_name, e_name,
        |  round(jaro_winkler_similarity(m_name, e_name), 6) AS jw,
        |  row_number() OVER (PARTITION BY m_name
        |    ORDER BY round(jaro_winkler_similarity(m_name, e_name), 6) DESC, e_name) AS rn
        |  FROM cand)
        |SELECT m_name, e_name, jw FROM scored WHERE rn = 1""".stripMargin,
    "q28_winnow_postings" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, i, md5(concat_ws(' ', t[i], t[i+1], t[i+2])) AS h
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM d)),
        |wm AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM sh)
        |SELECT DISTINCT doc_id, fp FROM wm WHERE wn = 4""".stripMargin,
    "q29_lsh_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
        |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs FROM d),
        |sig AS (
        |  SELECT doc_id, gs,
        |    md5(concat(
        |      list_min(list_transform(gs, g -> md5('0:' || g))),
        |      list_min(list_transform(gs, g -> md5('1:' || g))),
        |      list_min(list_transform(gs, g -> md5('2:' || g))),
        |      list_min(list_transform(gs, g -> md5('3:' || g))))) AS band0,
        |    md5(concat(
        |      list_min(list_transform(gs, g -> md5('4:' || g))),
        |      list_min(list_transform(gs, g -> md5('5:' || g))),
        |      list_min(list_transform(gs, g -> md5('6:' || g))),
        |      list_min(list_transform(gs, g -> md5('7:' || g))))) AS band1
        |  FROM sh),
        |bk AS (SELECT doc_id, gs, unnest(['0:' || band0, '1:' || band1]) AS bk FROM sig)
        |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |  round(len(list_intersect(x.gs, y.gs)) * 1.0 / len(list_distinct(x.gs || y.gs)), 4) AS jaccard
        |FROM bk x JOIN bk y USING (bk) WHERE x.doc_id < y.doc_id""".stripMargin,
    "q24_auc" ->
      """WITH g AS (
        |  SELECT round(value, 3) AS s,
        |         count(*) FILTER (WHERE event_type = 'purchase') AS np,
        |         count(*) FILTER (WHERE event_type <> 'purchase') AS nn
        |  FROM events GROUP BY 1),
        |c AS (
        |  SELECT np, nn,
        |    coalesce(sum(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
        |  FROM g)
        |SELECT round(sum(np * (cumneg + nn / 2.0)) /
        |             ((SELECT sum(np) FROM g) * (SELECT sum(nn) FROM g)), 6) AS auc
        |FROM c""".stripMargin,
    "q27_salted_count" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",
    "q26_label_check" ->
      """SELECT g.user_id,
        | CASE WHEN u.user_value IS NULL THEN 0
        |      WHEN m.vals IS NOT NULL AND list_contains(m.vals, u.user_value) THEN 1
        |      ELSE 0 END AS output
        |FROM (SELECT DISTINCT user_id FROM events) g
        |LEFT JOIN (SELECT user_id, arg_min(value, event_id) AS user_value
        |           FROM events WHERE event_type = 'view' GROUP BY 1) u USING (user_id)
        |LEFT JOIN (SELECT user_id, list(DISTINCT value) AS vals
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1) m USING (user_id)""".stripMargin,
    "q25_nested_flatten" ->
      """WITH nested AS (
        |  SELECT user_id, list({'event_type': event_type, 'value': value}) AS evs
        |  FROM events GROUP BY user_id),
        |flat AS (SELECT user_id, unnest(evs) AS ev FROM nested)
        |SELECT user_id, ev.event_type AS event_type, count(*) AS cnt,
        |       round(sum(ev.value), 2) AS total
        |FROM flat GROUP BY 1, 2""".stripMargin,
    "q21_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'view'""".stripMargin,
    "q22_topk_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q23_minmax_norm" ->
      """SELECT s_suppkey,
        | round((s_acctbal - mn) / (mx + 0.05 - mn), 6) AS norm
        |FROM supplier, (SELECT min(s_acctbal) AS mn, max(s_acctbal) AS mx FROM supplier)""".stripMargin,
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_topk_window" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        | SELECT c_mktsegment, c_custkey, c_acctbal,
        |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
        | FROM customer) WHERE rn <= 3""".stripMargin,
    "q03_margin_confidence" ->
      """SELECT p_type,
        | round(2 * max(CASE WHEN rn = 1 THEN p_retailprice END)
        |       - max(CASE WHEN rn = 2 THEN p_retailprice END), 4) AS margin,
        | count(*) AS cnt
        |FROM (
        | SELECT p_type, p_retailprice,
        |  row_number() OVER (PARTITION BY p_type ORDER BY p_retailprice DESC, p_partkey) AS rn
        | FROM part) WHERE rn <= 2 GROUP BY p_type""".stripMargin,
    "q04_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q05_outer_align" ->
      """SELECT CASE WHEN p.p_partkey IS NULL THEN 'None' ELSE 'part' END AS in_part,
        |       CASE WHEN l.l_partkey IS NULL THEN 'None' ELSE 'line' END AS in_line,
        |       count(*) AS cnt
        |FROM part p FULL OUTER JOIN (SELECT DISTINCT l_partkey FROM lineitem) l
        |  ON p.p_partkey = l.l_partkey
        |GROUP BY 1, 2""".stripMargin,
    "q06_maxconf" ->
      """SELECT user_id, event_type, event_id, round(value, 4) AS value FROM (
        | SELECT user_id, event_type, event_id, value,
        |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY value DESC, event_id) AS rn
        | FROM events) WHERE rn = 1 AND value >= 0.5""".stripMargin,
    "q07_date_norm" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS cnt,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    "q08_sha_docs" -> "SELECT doc_id, sha256(text) AS h FROM documents",
    "q09_levenshtein" ->
      "SELECT p_partkey, levenshtein(p_name, p_brand) AS d FROM part",
    "q10_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""".stripMargin,
    "q11_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS ntok FROM documents""",
    "q12_collect_set" ->
      """SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
        | count(*) AS cnt
        |FROM documents GROUP BY source""".stripMargin,
    "q13_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q14_histogram" ->
      """SELECT cast(floor(value / 50.0) AS int) AS bucket, count(*) AS cnt
        |FROM events GROUP BY 1""".stripMargin,
    "q15_jaro_link" ->
      """SELECT s_name, c_name, jw FROM (
        | SELECT s_name, c_name,
        |  round(jaro_winkler_similarity(s_name, c_name), 6) AS jw,
        |  row_number() OVER (PARTITION BY s_name
        |    ORDER BY round(jaro_winkler_similarity(s_name, c_name), 6) DESC, c_name) AS rn
        | FROM supplier, customer) WHERE rn = 1""".stripMargin,
    "q16_ann_brute_force" ->
      """SELECT e.vec_id,
        | round(list_cosine_similarity(e.embedding, q.qvec), 4) AS sim
        |FROM embeddings e,
        | (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin,
    "q17_sessionize" ->
      """SELECT user_id,
        | cast(sum(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
        | count(*) AS n_events
        |FROM (SELECT user_id, event_id, ts,
        |       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |      FROM events)
        |GROUP BY user_id""".stripMargin,
    "q18_mean_of_means" ->
      """SELECT event_type, round(avg(user_mean), 6) AS mean_of_means, count(*) AS n_users
        |FROM (SELECT user_id, event_type, avg(value) AS user_mean
        |      FROM events GROUP BY user_id, event_type)
        |GROUP BY event_type""".stripMargin,
    "q19_dim_join" ->
      """SELECT r_name, n_name, count(*) AS cnt, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q20_numeric_filter" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> regexp_matches(x, '^[0-9]+$'))) AS n_numeric,
        | len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_alpha
        |FROM documents
        |WHERE len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> regexp_matches(x, '^[0-9]+$')))
        |    < len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> regexp_matches(x, '^[A-Za-z]+$')))""".stripMargin,
  )
}
