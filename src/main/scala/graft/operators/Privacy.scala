package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection and redaction — the scrub pass a training-data
  * pipeline runs before anything leaves the raw zone (emails, phone
  * numbers, IP addresses; the categories C4/Dolma-style cleaners
  * treat as hard-redact).
  *
  * Everything here is built-in `regexp_count`/`regexp_replace` over
  * one projection: the scan stays whole-stage-codegen'd, nothing
  * shuffles, and the pass is embarrassingly parallel at 100 TB. The
  * patterns avoid lookarounds so the SAME pattern strings run on
  * RE2-class engines (the q43 DuckDB oracle executes them verbatim).
  */
object Privacy {

  /** Email, e.g. `a.b+c@mail3.com`. No lookaround (RE2-safe). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** North-American-shaped phone, e.g. `555-042-0294`. */
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Dotted-quad IPv4 (syntactic; octet range not enforced). */
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Redaction order matters: emails first (their local/domain parts
    * contain digit runs a narrower pattern could bite into), then
    * phones, then IPs (a phone already redacted cannot be re-matched
    * as two dotted pairs). */
  private val passes: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>",
    PhoneRe -> "<PHONE>",
    Ipv4Re -> "<IP>")

  /** The redacted text column (no counts) — the form the pipeline
    * composes into a clean-corpus write. */
  def redacted(text: Column): Column =
    passes.foldLeft(text) { case (c, (re, tag)) => regexp_replace(c, re, tag) }

  /** Per-document PII stats + redacted text: counts are taken BEFORE
    * redaction so overlapping categories report what the raw text
    * contained. One narrow projection over the input. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).as("n_phones"),
      regexp_count(col(textCol), lit(Ipv4Re)).as("n_ips"),
      redacted(col(textCol)).as("redacted"))
}
