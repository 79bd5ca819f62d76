package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.kg.LabelVersion
import graft.operators.LabelEval

class LabelEvalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
  private def lv(doc: String, name: String, value: String, conf: Double,
                 model: String, i: Int = 0) =
    LabelVersion(doc, name, value, conf, model, ts(i))

  test("filterModels keeps user and azure-llm rows only") {
    import spark.implicits._
    val rows = Seq(
      lv("d1", "client", "x", 1.0, "user"),
      lv("d1", "client", "y", 0.9, "llm - openai azure"),
      lv("d1", "client", "z", 0.9, "llm - other"),
      lv("d1", "client", "w", 0.9, "regex")).toDS()
    assert(LabelEval.filterModels(rows).collect().map(_.label_value).toSet == Set("x", "y"))
  }

  test("maxConfPerGroup applies idxmax+threshold for entity models only") {
    import spark.implicits._
    val rows = Seq(
      lv("d1", "client", "a", 0.4, "llm - openai azure entity", 1),
      lv("d1", "client", "b", 0.8, "llm - openai azure entity", 2),
      lv("d1", "client", "c", 0.7, "llm - openai azure entity", 3),
      lv("d1", "amount", "a2", 0.1, "llm - openai azure", 1),
      lv("d1", "amount", "b2", 0.2, "llm - openai azure", 2),
      lv("d2", "client", "low", 0.3, "llm - openai azure entity", 1)).toDS()
    val out = LabelEval.maxConfPerGroup(rows).collect()
    // entity model: only the 0.8 row survives; d2 group all below 0.5 → empty
    assert(out.filter(_.model.contains("entity")).map(_.label_value).toSeq == Seq("b"))
    // non-entity model: all rows kept
    assert(out.filter(!_.model.contains("entity")).map(_.label_value).toSet == Set("a2", "b2"))
  }

  test("checkLabelValues containment + special cases") {
    import spark.implicits._
    val rows = Seq(
      // plain match
      lv("d1", "amount", "100", 1.0, "user"),
      lv("d1", "amount", "100", 0.9, "llm - openai azure"),
      // plain miss
      lv("d2", "amount", "100", 1.0, "user"),
      lv("d2", "amount", "200", 0.9, "llm - openai azure"),
      // client NONE_USER with silent LLM → 1
      lv("d3", "client", LabelEval.NoneUser, 1.0, "user"),
      // client NONE_USER but LLM proposed → 0
      lv("d4", "client", LabelEval.NoneUser, 1.0, "user"),
      lv("d4", "client", "someone", 0.9, "llm - openai azure"),
      // relevant date in Jan 2024 with silent LLM → 1
      lv("d5", "relevant date", "2024-01-15", 1.0, "user"),
      // relevant date NOT in Jan 2024, silent LLM → 0 (containment fails)
      lv("d6", "relevant date", "2023-05-01", 1.0, "user"),
      // no user row → 0
      lv("d7", "amount", "5", 0.9, "llm - openai azure")).toDS().toDF()
    val out = LabelEval.checkLabelValues(rows)
      .collect().map(r => (r.getString(0), r.getInt(2))).toMap
    assert(out == Map("d1" -> 1, "d2" -> 0, "d3" -> 1, "d4" -> 0,
      "d5" -> 1, "d6" -> 0, "d7" -> 0))
  }

  test("end-to-end scoreFrame with gold union and meta-label drop") {
    import spark.implicits._
    val lvs = Seq(
      lv("d1", "document type", "invoice", 1.0, "user"),
      lv("d1", "document type", "invoice", 0.9, "llm - openai azure"),
      lv("d1", "amount", "100", 1.0, "user"),
      lv("d1", "amount", "100", 0.9, "llm - openai azure"),
      lv("d1", "due-date", "x", 1.0, "user"), // meta (dash) → dropped
      lv("d2", "document type", "invoice", 1.0, "user"),
      lv("d2", "document type", "receipt", 0.9, "llm - openai azure"), // wrong type
      lv("d2", "amount", "50", 1.0, "user"),
      lv("d2", "amount", "99", 0.9, "llm - openai azure"),
      lv("d3", "amount", "7", 0.9, "llm - openai azure") // no user row
    ).toDS()
    // gold rows here use a meta label (contains '-'), so they are
    // dropped before scoring; gold-only label names never score
    val gold = Seq(
      lv("d1", "gold-marker", "x", 1.0, "user"),
      lv("d2", "gold-marker", "x", 1.0, "user"),
      lv("d4", "client", "acme", 1.0, "user")).toDS().toDF()
    val rows = LabelEval.scoreFrame(lvs, gold).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(rows == Map(
      ("d1", "document type") -> 1, ("d1", "amount") -> 1,
      ("d2", "document type") -> 0, ("d2", "amount") -> 0,
      ("d3", "amount") -> 0, ("d4", "client") -> 0))
  }

  test("date normalization") {
    import spark.implicits._
    val df = Seq(("d1", "relevant date", "2024-01-15 10:30:00"),
      ("d1", "amount", "2024-01-15 10:30:00"))
      .toDF("doc_id", "label_name", "label_value")
    val out = LabelEval.normalizeDates(df).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    assert(out("relevant date") == "2024-01-15")
    assert(out("amount") == "2024-01-15 10:30:00")
  }

  test("nested label store flattens to exactly the flat LabelVersion rows") {
    val n = 150L
    val nested = LabelEval.syntheticNestedDocs(spark, n)
    val flat = LabelEval.flattenLabelVersions(nested, "/storage/")
    def key(v: graft.kg.LabelVersion) =
      (v.doc_id, v.label_name, v.label_value, v.confidence, v.model, v.created_on.getTime)
    val got = flat.collect().map(key).toSet
    val expected = LabelEval.syntheticLabelVersions(spark, n).collect().map(key).toSet
    assert(got == expected) // round-trip: roll-up → explode loses nothing
    // user rows come from null modelName versions
    assert(flat.collect().count(_.model == "user") ==
      expected.count(_._5 == "user"))
    // path-prefix filter (get_labels_versions pathStorage check,
    // myMongoClient.py:128-134): a narrower prefix keeps a strict subset
    val inboxOnly = LabelEval.flattenLabelVersions(nested, "/storage/inbox/")
    val inboxDocs = inboxOnly.collect().map(_.doc_id).toSet
    assert(inboxDocs.nonEmpty && inboxDocs.size < n)
    assert(LabelEval.flattenLabelVersions(nested, "/nowhere/").count() == 0)
    // the flattened rows feed the existing evaluation unchanged
    val gold = inboxOnly.toDF().select("doc_id").distinct()
      .withColumn("label_name", org.apache.spark.sql.functions.lit("gold-marker"))
      .withColumn("label_value", org.apache.spark.sql.functions.lit("x"))
      .withColumn("confidence", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("model", org.apache.spark.sql.functions.lit("user"))
      .withColumn("created_on", org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L)))
    assert(LabelEval.scoreFrame(inboxOnly, gold).count() > 0)
  }
}
