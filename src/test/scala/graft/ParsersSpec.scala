package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

class ParsersSpec extends AnyFunSuite {

  // ---- PyLiteral ----
  test("pyliteral parses tuple lists") {
    val r = PyLiteral.parse("[('Japan', 'NORP'), ('Tokyo', 'GPE')]")
    assert(r.contains(Py.Seq_(Vector(
      Py.Seq_(Vector(Py.S("Japan"), Py.S("NORP"))),
      Py.Seq_(Vector(Py.S("Tokyo"), Py.S("GPE")))))))
  }

  test("pyliteral parses dicts, numbers, booleans, None, nesting") {
    assert(PyLiteral.parse("{'a': 1, 'b': [2.5, True, None]}").contains(
      Py.Dict(Vector(
        Py.S("a") -> Py.I(1),
        Py.S("b") -> Py.Seq_(Vector(Py.F(2.5), Py.B(true), Py.N))))))
    assert(PyLiteral.parse("(1)").contains(Py.I(1)))      // parenthesised scalar
    assert(PyLiteral.parse("(1,)").contains(Py.Seq_(Vector(Py.I(1)))))
    assert(PyLiteral.parse("{'x'}").contains(Py.Seq_(Vector(Py.S("x"))))) // set
    assert(PyLiteral.parse("\"a\\n'b\"").contains(Py.S("a\n'b")))
  }

  test("pyliteral rejects garbage and trailing junk") {
    assert(PyLiteral.parse("[('a', 'b'").isEmpty)
    assert(PyLiteral.parse("{'a': }").isEmpty)
    assert(PyLiteral.parse("[1,2]x").isEmpty)
    assert(PyLiteral.parse("hello").isEmpty)
  }

  // ---- discussion parser (pt_discussion.py:41-59) ----
  test("parseTupleList extracts and filters by tag") {
    val resp = "Sure! [('Alice', 'PER'), ('Acme', 'ORG'), ('blah', 'XXX'), ('Alice', 'PER')] done"
    assert(Parsers.parseTupleList(resp) == List(("Alice", "PER"), ("Acme", "ORG")))
  }

  test("parseTupleList [[..]] window and malformed fallbacks") {
    // list-of-lists answer: the [[..]] window exists for this shape
    assert(Parsers.parseTupleList("ok [['Bob', 'PER'], ['Acme', 'ORG']] end") ==
      List(("Bob", "PER"), ("Acme", "ORG")))
    // nested single list has len 1 → filtered, exactly like the reference
    assert(Parsers.parseTupleList("[[('Bob', 'PER')]]") == Nil)
    assert(Parsers.parseTupleList("no brackets at all") == Nil)
    assert(Parsers.parseTupleList("[('Bob', 'PER'") == Nil)   // no closing → "[]"
    // `[ (` opener with `)]` closer
    assert(Parsers.parseTupleList("x [ ('Eve', 'LOC')] y") == List(("Eve", "LOC")))
    // tuples with wrong arity dropped
    assert(Parsers.parseTupleList("[('a', 'PER', 'x'), ('b', 'ORG')]") == List(("b", "ORG")))
  }

  test("reversed delimiters degrade to empty, never throw (python slice parity)") {
    // close delimiter BEFORE open delimiter — python's response[start:end+2]
    // yields '' and the eval falls back to []/{}: real LLM output shape
    assert(Parsers.parseTupleList("x)] y [('A','PER')") == Nil)
    assert(Parsers.parseTagJson("} then {'Bob': 'P'") == Nil)
    assert(Parsers.parseFilingJson("} oops {'ORG': ['Acme']") == Nil)
    assert(Parsers.parseConfidenceJson("} bad {'Bob': 'high'", List(("Bob", "PER"))) ==
      List(("Bob", "PER", None)))
  }

  // ---- wrapper parser (pt_wrapper.py:33-41) ----
  test("parseWrapped maps long tags to abbreviations") {
    val resp = "<person>Alice Johnson</person> went to <location>Paris</location> <ORG>Acme</ORG>"
    assert(Parsers.parseWrapped(resp) ==
      List(("Alice Johnson", "PER"), ("Paris", "LOC"), ("Acme", "ORG")))
    // backreference must match: mismatched close tag is skipped
    assert(Parsers.parseWrapped("<person>Bob</location>") == Nil)
  }

  // ---- tagger parser (pt_tagger.py:93-112) ----
  test("parseTagJson maps chars to tags (intended semantics)") {
    val resp = "{'Alice': '4', 'Acme': 'B', 'x': 'Z'"
    assert(Parsers.parseTagJson(resp) == List(("Alice", "PERSON"), ("Acme", "ORG")))
    assert(Parsers.parseTagJson("nothing here") == Nil)
  }

  // ---- filing parser (pt_filing.py:48-75) ----
  test("parseFilingJson explodes tag lists and filters tags") {
    val resp = "{'PERSON': ['Alice', 'Bob'], 'ORG': ['Acme'], 'ZZZ': ['x']"
    assert(Parsers.parseFilingJson(resp).toSet ==
      Set(("Alice", "PERSON"), ("Bob", "PERSON"), ("Acme", "ORG")))
  }

  test("parseFilingJson end+2 slice tolerates whitespace, rejects junk char") {
    assert(Parsers.parseFilingJson("{'ORG': ['Acme']} ").nonEmpty)
    // char right after '}' lands in the slice → literal_eval fails → {}
    assert(Parsers.parseFilingJson("{'ORG': ['Acme']}]") == Nil)
  }

  // ---- @@## parser (pt_gpt_ner.py:40-43) ----
  test("parseAtAt finds all wrapped mentions incl. newlines") {
    assert(Parsers.parseAtAt("@@Alice## met @@ Bob\nSmith##", "PER") ==
      List(("Alice", "PER"), ("Bob\nSmith", "PER")))
  }

  // ---- confidence parser (confidence_checker.py:19-35) ----
  test("parseConfidenceJson attaches levels, missing → None") {
    val spans = List(("Alice", "PER"), ("Acme", "ORG"))
    val out = Parsers.parseConfidenceJson("{'Alice': 'high'", spans)
    assert(out == List(("Alice", "PER", Some("high")), ("Acme", "ORG", None)))
  }

  // ---- verifier (verifier.py:26-31) ----
  test("verifierAnswer checks yes before no") {
    assert(Parsers.verifierAnswer("Yes, it is").contains(true))
    assert(Parsers.verifierAnswer("No way").contains(false))
    assert(Parsers.verifierAnswer("maybe").isEmpty)
    assert(Parsers.verifierAnswer("yes and no").contains(true))
  }
}
