package graft.functions

/** Text-analysis kernels for the large-scale training-data pipeline
  * operators (language id, quality scoring, token counting, document
  * fingerprinting, shingles, minhash, simhash). All deterministic
  * pure Scala; generalizes the reference's data-cleaning filters
  * (ner/Datasets/utils.py:14-45 — verb filter, numeric-ratio filter,
  * length filters, dedup-by-text).
  */
object TextAnalytics {

  /** Whitespace token count. */
  def tokenCountWs(text: String): Int = {
    var count = 0
    var inTok = false
    var i = 0
    while (i < text.length) {
      val ws = text.charAt(i).isWhitespace
      if (!ws && !inTok) { count += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    count
  }

  /** BPE-ish subword-friendly token count: letter runs, digit runs,
    * single other non-space chars — a cheap proxy for byte-pair token
    * counts on ASCII-heavy corpora. */
  private val BpeIshRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]".r
  def tokenCountBpeIsh(text: String): Int = BpeIshRe.findAllIn(text).length

  /** Word tokens (lowercased letter runs) for langid / quality —
    * keeps Latin-1 accented letters (the stopword lists carry French/
    * German function words). The class excludes U+00D7 ×/U+00F7 ÷,
    * which sit inside the Latin-1 letter block but are operators. */
  private val WordRe = "[A-Za-zÀ-ÖØ-öø-ÿ]+".r
  def words(text: String): List[String] = WordRe.findAllIn(text).map(_.toLowerCase).toList

  /** THE corpus-pipeline word tokenizer — the single definition shared
    * by every kernel whose output feeds a cross-stage contract or a
    * DuckDB oracle (repetition gates, decontamination shingles, BPE
    * train AND encode, pack plans, unigram LM, token quantiles):
    * lowercase, then split on non-[a-z] runs — exactly
    * `list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')`
    * on the oracle side, on any input including non-ASCII (accented
    * letters are separators in BOTH engines, so engine-vs-oracle and
    * stage-vs-stage tokenizations agree by construction; [[words]]
    * stays the accent-keeping variant for the langid/quality
    * HEURISTICS, whose oracles embed its output, not its tokenizer). */
  def pipelineWords(text: String): List[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").iterator
      .filter(_.nonEmpty).toList

  // Small public stopword lists (top function words per language).
  private val Stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "of", "and", "to", "in", "a", "is", "that", "it", "was",
      "for", "on", "are", "with", "as", "his", "they", "at", "be", "this",
      "have", "from", "or", "by", "not", "but", "what", "all", "were", "we"),
    "fr" -> Set("le", "la", "les", "de", "des", "du", "et", "est", "en", "un",
      "une", "que", "qui", "dans", "pour", "pas", "sur", "avec", "au", "il",
      "elle", "nous", "vous", "sont", "ce", "cette", "mais", "ou", "par", "plus"),
    "de" -> Set("der", "die", "das", "und", "ist", "in", "den", "von", "zu",
      "mit", "sich", "des", "auf", "für", "nicht", "ein", "eine", "als", "auch",
      "es", "an", "werden", "aus", "er", "hat", "dass", "sie", "nach", "bei", "um"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "una", "los", "las",
      "es", "por", "con", "para", "se", "no", "su", "al", "lo", "como", "más",
      "pero", "sus", "le", "ya", "o", "este", "sí", "porque", "esta"),
    "it" -> Set("il", "di", "che", "e", "la", "per", "un", "in", "una", "sono",
      "mi", "ho", "lo", "ha", "le", "si", "con", "non", "come", "del", "della",
      "gli", "al", "ma", "se", "questo", "questa", "più", "da", "nel"))

  /** The English stopword list, sorted — public so the q36 oracle
    * shadow embeds the identical list as SQL literals. */
  val EnStopwords: Seq[String] = Stopwords("en").toSeq.sorted

  /** n-gram/stopword language-ID heuristic: argmax of stopword hit
    * ratio; "und" (undetermined) below a minimal evidence bar. */
  def langId(text: String): String = {
    val ws = words(text)
    if (ws.isEmpty) return "und"
    var bestLang = "und"
    var bestHits = 0
    Stopwords.foreach { case (lang, stops) =>
      val hits = ws.count(stops.contains)
      if (hits > bestHits) { bestHits = hits; bestLang = lang }
    }
    if (bestHits.toDouble / ws.length < 0.05) "und" else bestLang
  }

  final case class Quality(
      nChars: Int,
      nWords: Int,
      alphaRatio: Double,
      digitRatio: Double,
      punctRatio: Double,
      stopwordRatio: Double,
      avgWordLen: Double,
      score: Double)

  /** Heuristic document quality, generalizing the reference's
    * numeric-ratio filter (ner/Datasets/utils.py:24-30) and length
    * filters (OntoNotes5Dataset.py:16-22) into one scored record. */
  def quality(text: String): Quality = {
    val n = text.length
    if (n == 0) return Quality(0, 0, 0, 0, 0, 0, 0, 0)
    var alpha = 0; var digit = 0; var punct = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c.isLetter) alpha += 1
      else if (c.isDigit) digit += 1
      else if (!c.isWhitespace) punct += 1
      i += 1
    }
    val ws = words(text)
    val nWords = ws.length
    val stopHits = if (nWords == 0) 0 else ws.count(Stopwords("en").contains)
    val alphaRatio = alpha.toDouble / n
    val digitRatio = digit.toDouble / n
    val punctRatio = punct.toDouble / n
    val stopwordRatio = if (nWords == 0) 0.0 else stopHits.toDouble / nWords
    val avgWordLen = if (nWords == 0) 0.0 else ws.map(_.length).sum.toDouble / nWords
    // Bounded 0..1 score: rewards letter-dominated text with function
    // words and sane word lengths; punishes digit/punct walls.
    val lenTerm = math.min(1.0, nWords / 20.0)
    val score = math.max(0.0, math.min(1.0,
      0.35 * alphaRatio + 0.25 * math.min(1.0, stopwordRatio * 4) +
      0.20 * lenTerm + 0.20 * (1.0 - math.min(1.0, digitRatio * 3 + punctRatio * 2))))
    Quality(n, nWords, alphaRatio, digitRatio, punctRatio, stopwordRatio, avgWordLen, score)
  }

  /** Word k-shingles. */
  def shingles(text: String, k: Int): List[String] = {
    val ws = words(text)
    if (ws.length < k) { if (ws.isEmpty) Nil else List(ws.mkString(" ")) }
    else ws.sliding(k).map(_.mkString(" ")).toList
  }

  /** Character k-grams (for short strings / entity names). */
  def charNgrams(s: String, k: Int): List[String] =
    if (s.length < k) { if (s.isEmpty) Nil else List(s) }
    else (0 to s.length - k).map(i => s.substring(i, i + k)).toList

  /** Deterministic char-trigram feature-hash embedding (L2-normalized)
    * — the engine's content-pure stand-in for the reference's
    * sentence-transformer embeddings (MyDataset.py:112-114). Pure
    * function of the text, so few-shot retrieval over it is
    * bit-reproducible at any parallelism. */
  def embedText(text: String, dim: Int = 32): Array[Float] = {
    val v = new Array[Float](dim)
    charNgrams(text.toLowerCase, 3).foreach { g =>
      val h = Hashing.hash64(g)
      val sign = if ((h & 1L) == 0L) 1f else -1f
      v(Hashing.bucket(h >>> 1, dim)) += sign
    }
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += v(i) * v(i); i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
    }
    v
  }

  /** MinHash signature: numHashes independent seeded min-hashes over
    * the shingle set; empty set → Long.MaxValue rows. */
  def minHashSignature(shingleSet: Iterable[String], numHashes: Int, seed: Long = 42L): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    shingleSet.foreach { sh =>
      val base = Hashing.hash64(sh)
      var i = 0
      while (i < numHashes) {
        val h = Hashing.hash64(base, seed + i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** LSH band keys from a minhash signature: hash of each band of
    * `rowsPerBand` rows; docs sharing any band key are candidates. */
  def lshBandKeys(sig: Array[Long], rowsPerBand: Int): Array[Long] = {
    val bands = sig.length / rowsPerBand
    Array.tabulate(bands) { b =>
      var h = Hashing.mix64(b.toLong)
      var i = b * rowsPerBand
      while (i < (b + 1) * rowsPerBand) { h = Hashing.mix64(h ^ sig(i)); i += 1 }
      h
    }
  }

  /** 64-bit SimHash over word tokens (unit weights). */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    words(text).foreach { w =>
      val h = Hashing.hash64(w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03):
    * rolling hashes of char k-grams, min per window of size w (rightmost
    * min on ties), distinct. Robust local document fingerprints. */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    val n = text.length
    if (n < k) return if (n == 0) Array.empty else Array(Hashing.hash64(text))
    val grams = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) { grams(i) = Hashing.hash64(text.substring(i, i + k)); i += 1 }
    if (grams.length <= w) return Array(grams.min).distinct
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    var start = 0
    while (start + w <= grams.length) {
      var minIdx = start
      var j = start + 1
      while (j < start + w) { if (grams(j) <= grams(minIdx)) minIdx = j; j += 1 }
      picked += grams(minIdx)
      start += 1
    }
    picked.toArray
  }

  /** The reference's numeric-ratio cleaning predicate
    * (ner/Datasets/utils.py:24-30): keep iff #digit-only tokens <
    * #alpha tokens. */
  def numericRatioKeep(text: String): Boolean = {
    val toks = text.split(" ")
    val numeric = toks.count(t => t.nonEmpty && t.forall(_.isDigit))
    val alpha = toks.count(t => t.nonEmpty && t.forall(_.isLetter))
    numeric < alpha
  }

  /** Deterministic verb-ish lexicon predicate standing in for the
    * reference's NLTK POS verb filter (ner/Datasets/utils.py:14-21):
    * keep rows that contain a verb-like token. */
  private val VerbLexicon: Set[String] = Set(
    "is", "are", "was", "were", "be", "been", "has", "have", "had", "said",
    "says", "met", "visited", "works", "worked", "joined", "founded", "leads",
    "announced", "signed", "opened", "moved", "travelled", "called", "asked",
    "told", "runs", "ran", "made", "makes", "acquired", "launched", "reported")
  def hasVerb(text: String): Boolean = words(text).exists(VerbLexicon.contains)
}
