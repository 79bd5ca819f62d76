package graft.functions

import scala.util.matching.Regex

/** The reference's five LLM-output parsers plus the confidence /
  * verifier response parsers, re-expressed as pure deterministic
  * Scala functions (SURVEY.md §2.7). Each mirrors the exact slicing,
  * fallback-to-empty and tag-filter semantics of its Python original
  * (file:line cited per function). These run inside typed
  * `map`/`flatMap` on the executors — no UDF registration needed.
  *
  * One deliberate deviation, documented in SURVEY.md §7.3: where the
  * reference dedups via Python `set()` (nondeterministic order,
  * pt_discussion.py:58, pt_filing.py:74) we dedup preserving first
  * occurrence, which is deterministic and set-equal.
  */
object Parsers {

  /** Python single-quoted string literal (the scorer wire format the
    * parsers above read back). ONE definition for every writer —
    * Scorer, PromptTechniques and FewShots previously each carried a
    * private copy, and one had drifted (missing backslash escaping). */
  def pyStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  val Conll4Tags: Set[String] = Set("PER", "ORG", "LOC", "MISC")

  val OntoNotes5Tags: Set[String] = Set(
    "CARDINAL", "ORDINAL", "WORK_OF_ART", "PERSON", "LOC", "DATE",
    "PERCENT", "PRODUCT", "MONEY", "FAC", "TIME", "ORG", "QUANTITY",
    "LANGUAGE", "GPE", "LAW", "NORP", "EVENT")

  /** pt_tagger.py:11-29 */
  val LetterToTag: Map[String, String] = Map(
    "P" -> "PER", "O" -> "ORG", "L" -> "LOC", "M" -> "MISC", "N" -> "None",
    "1" -> "CARDINAL", "2" -> "ORDINAL", "3" -> "WORK_OF_ART", "4" -> "PERSON",
    "5" -> "LOC", "6" -> "DATE", "7" -> "PERCENT", "8" -> "PRODUCT",
    "9" -> "MONEY", "0" -> "FAC", "A" -> "TIME", "B" -> "ORG",
    "C" -> "QUANTITY", "D" -> "LANGUAGE", "E" -> "GPE", "F" -> "LAW",
    "G" -> "NORP", "H" -> "EVENT")

  /** pt_tagger.py:30-48 */
  val TagToChar: Map[String, String] = LetterToTag.collect {
    case (c, t) if t != "None" && !"POLM".contains(c) => t -> c
  }

  /** prompts.py:334 */
  val MappingStringAbbr: Map[String, String] = Map(
    "person" -> "PER", "organization" -> "ORG", "location" -> "LOC",
    "miscellaneous" -> "MISC")

  /** Python-slice semantics: `s[from:until]` never throws — a window
    * whose close delimiter precedes its open delimiter (real LLM
    * output: "x)] then [('A','PER')") yields "" and the caller's
    * literal-eval falls back to empty, exactly like the reference's
    * `response[start:end+2]`. */
  private def sliceClamped(s: String, from: Int, until: Int): String = {
    val f = math.max(0, math.min(from, s.length))
    val u = math.max(f, math.min(until, s.length))
    s.substring(f, u)
  }

  private def distinctFirst[A](xs: Seq[A]): List[A] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[A]
    xs.foreach(seen += _)
    seen.toList
  }

  /** Discussion / "direct output list" parser — pt_discussion.py:41-59.
    * Finds the `[[`/`[(`/`[ (` … `]]`/`)]`/`) ]` window, literal-evals,
    * keeps 2-element pairs whose tag is in `tags`, dedups.
    * Malformed input → empty (the reference prints a warning and
    * substitutes "[]").
    */
  def parseTupleList(response: String, tags: Set[String] = Conll4Tags): List[(String, String)] = {
    var start = response.indexOf("[[")
    var end = response.indexOf("]]")
    if (start == -1)
      start = if (response.indexOf("[(") == -1) response.indexOf("[ (") else response.indexOf("[(")
    if (end == -1)
      end = if (response.indexOf(")]") == -1) response.indexOf(") ]") else response.indexOf(")]")
    val window =
      if (start != -1 && end != -1) sliceClamped(response, start, end + 2)
      else "[]"
    val parsed = PyLiteral.parse(window) match {
      case Some(Py.Seq_(items)) =>
        items.toList.collect {
          case Py.Seq_(Vector(Py.S(ne), Py.S(tag))) if tags.contains(tag) => (ne, tag)
        }
      case _ => Nil
    }
    distinctFirst(parsed)
  }

  /** Wrapper parser — pt_wrapper.py:33-41: regex `<T>x</T>` with
    * backreference, long tag name mapped to its abbreviation. */
  private val WrapperRe: Regex = "<([^>]+)>([^<]+)</\\1>".r
  def parseWrapped(response: String): List[(String, String)] =
    WrapperRe.findAllMatchIn(response).map { m =>
      val tag = m.group(1)
      (m.group(2), MappingStringAbbr.getOrElse(tag, tag))
    }.toList

  /** Tagger parser — pt_tagger.py:93-112: append `}`, slice `{..}`,
    * literal-eval dict, map single-char values to tags.
    *
    * NOTE the reference's final comprehension guard
    * `isinstance(tag, str) in LETTER_TO_TAG_MAPPING` (pt_tagger.py:110)
    * tests whether the *boolean* is a dict key, which is always false,
    * so the original always returns []. We implement the evident
    * intent (`isinstance(tag, str) and tag in LETTER_TO_TAG_MAPPING`)
    * and record the divergence here.
    */
  def parseTagJson(response0: String): List[(String, String)] = {
    val response = response0 + "}"
    val start = response.indexOf('{')
    val end = response.indexOf('}')
    val window = if (start != -1 && end != -1) sliceClamped(response, start, end + 1) else "{}"
    PyLiteral.parse(window) match {
      case Some(d: Py.Dict) =>
        d.pyItems.toList.collect {
          case (Py.S(ne), Py.S(c)) if LetterToTag.contains(c) => (ne, LetterToTag(c))
        }
      case _ => Nil
    }
  }

  /** Filing parser — pt_filing.py:48-75: append `}`, slice
    * `{`..`}`+2 (the off-by-one is the reference's own; a non-space
    * trailing char fails the eval → {}), explode tag→[entities],
    * filter tags, dedup. */
  def parseFilingJson(response0: String, tags: Set[String] = OntoNotes5Tags): List[(String, String)] = {
    val response = response0 + "}"
    val start = response.indexOf('{')
    val end = response.indexOf('}')
    val window = if (start != -1 && end != -1) sliceClamped(response, start, end + 2) else "{}"
    val out = PyLiteral.parse(window) match {
      case Some(d: Py.Dict) =>
        d.pyItems.toList.flatMap {
          case (Py.S(tag), Py.Seq_(nes)) if tags.contains(tag) =>
            nes.collect { case Py.S(ne) => (ne, tag) }
          case _ => Nil
        }
      case _ => Nil
    }
    distinctFirst(out)
  }

  /** @@##-markup parser — pt_gpt_ner.py:40-43: regex `@@\s*(.*?)##`
    * DOTALL; the tag is fixed by the per-tag prompt. */
  private val AtAtRe: Regex = "(?s)@@\\s*(.*?)##".r
  def parseAtAt(response: String, tag: String): List[(String, String)] =
    AtAtRe.findAllMatchIn(response).map(m => (m.group(1), tag)).toList

  /** Confidence parser — confidence_checker.py:19-35: append `}`,
    * slice `{..}`, eval, attach the level to each span; a span whose
    * mention is absent from the dict maps to no confidence (the
    * reference degenerates the whole tuple to the string 'None'; we
    * keep the span and model the confidence as None). */
  def parseConfidenceJson(response0: String, spans: List[(String, String)]): List[(String, String, Option[String])] = {
    val response = response0 + "}"
    val start = response.indexOf('{')
    val end = response.indexOf('}')
    val window = if (start != -1 && end != -1) sliceClamped(response, start, end + 1) else "{}"
    val conf: Map[String, String] = PyLiteral.parse(window) match {
      case Some(d: Py.Dict) =>
        d.pyItems.collect { case (Py.S(k), Py.S(v)) => k -> v }.toMap
      case _ => Map.empty
    }
    spans.map { case (ne, tag) => (ne, tag, conf.get(ne)) }
  }

  /** Verifier yes/no test — verifier.py:26-31. "yes" is checked
    * before "no"; neither → None (the reference logs and keeps
    * nothing, i.e. the mention is dropped). */
  def verifierAnswer(response: String): Option[Boolean] = {
    val lower = response.toLowerCase
    if (lower.contains("yes")) Some(true)
    else if (lower.contains("no")) Some(false)
    else None
  }

  /** Confidence level → numeric score used by our pipeline's
    * auto-accept; levels from confidence_checker prompt
    * (prompts.py:300-308). */
  val ConfidenceLevels: Map[String, Double] = Map(
    "low" -> 0.1, "medium-low" -> 0.3, "medium" -> 0.5,
    "medium-high" -> 0.7, "high" -> 0.9)
}
