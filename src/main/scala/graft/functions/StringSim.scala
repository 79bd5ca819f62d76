package graft.functions

/** String-similarity kernels for entity-link scoring, matching the
  * functions the reference pulls from the `jaro` pip package
  * (ketl/mongo/entityMatching.py:49-67). Pure, branchy
  * Scala — used both as plain functions inside typed maps and wrapped
  * in a column function for DataFrame joins.
  */
object StringSim {

  /** Per-thread match-flag scratch: the linking kernel scores
    * |mentions|·|catalogue| pairs, and two fresh boolean arrays per
    * pair (~30M allocations per q15-shaped join) were a measurable
    * constant. Reused + prefix-cleared instead; semantics identical
    * (StringSimSpec pins fixtures). */
  private final class Scratch {
    // retained capacity is capped: one pathological long string must
    // not pin a huge array on every executor thread that saw it for
    // the thread's lifetime — above the cap the arrays are allocated
    // fresh for that call and the retained pair shrinks back
    private val MaxRetained = 4096
    var m1 = new Array[Boolean](64)
    var m2 = new Array[Boolean](64)
    def sized(l1: Int, l2: Int): Unit = {
      if (m1.length < l1) m1 = new Array[Boolean](math.min(Integer.highestOneBit(l1) * 2, math.max(l1, MaxRetained)))
      else java.util.Arrays.fill(m1, 0, l1, false)
      if (m2.length < l2) m2 = new Array[Boolean](math.min(Integer.highestOneBit(l2) * 2, math.max(l2, MaxRetained)))
      else java.util.Arrays.fill(m2, 0, l2, false)
      if (m1.length > MaxRetained && l1 <= MaxRetained) m1 = new Array[Boolean](MaxRetained)
      if (m2.length > MaxRetained && l2 <= MaxRetained) m2 = new Array[Boolean](MaxRetained)
    }
  }
  private val scratchTL: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** Jaro similarity (entityMatching.py:51 `jaro.jaro_metric`). */
  def jaro(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val sc = scratchTL.get()
    sc.sized(l1, l2)
    val matched1 = sc.m1
    val matched2 = sc.m2
    var matches = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true; matched2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    (m / l1 + m / l2 + (m - transpositions / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler (entityMatching.py:52,62 `jaro.jaro_winkler_metric`):
    * strcmp95 lineage — the 0.1 prefix boost (≤4 common prefix chars)
    * applies ONLY when the Jaro score exceeds the 0.7 boost threshold,
    * matching the reference's `jaro` pip package and DuckDB's
    * jaro_winkler_similarity (fixture-pinned in StringSimSpec). */
  val WinklerBoostThreshold = 0.7

  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= WinklerBoostThreshold) return j
    var prefix = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (prefix < max && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** Cosine similarity over float vectors (few_shots_techniques.py:75). */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    // promote each operand BEFORE the multiply: a float-precision
    // product then widened loses ~1e-7 relative vs the all-double
    // math every SQL engine (Spark SQL, DuckDB list_cosine_similarity)
    // does on the same floats — kept bit-compatible so kernel-path
    // results agree with SQL-path oracles at any rounding precision
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}
