package graft.functions

/** The reference's six logit→confidence functions
  * (ner/evaluating_confidence.py:98-106), reproduced EXACTLY —
  * including the operator-precedence quirk in `proba_centered`, whose
  * Python source `log-np.min(logits)/np.sum(logits-np.min(logits))`
  * subtracts `min/sum(shifted)` from each logit rather than
  * normalizing the shifted logit (documented divergence from the
  * apparent intent; we reproduce the code, not the intent). Plus the
  * logistic-calibration scorer (sigmoid over a broadcast weight
  * vector — "Model for calibrated confidence.ipynb": training is
  * offline, scoring is an engine function).
  */
object Confidence {

  /** evaluating_confidence.py:98-100 (plain softmax; the comment in
    * the reference about max-subtraction is aspirational — the code
    * exponentiates raw logits, and so do we). */
  def softmax(logits: Array[Double]): Array[Double] = {
    val e = logits.map(math.exp)
    val s = e.sum
    e.map(_ / s)
  }

  /** softmax(logits − min(logits)) — :103. Identical values to plain
    * softmax analytically; kept as its own arm like the reference. */
  def softmaxMin(logits: Array[Double]): Array[Double] = {
    val m = logits.min
    softmax(logits.map(_ - m))
  }

  /** softmax(logits − max(logits)) — :104 (the numerically stable form). */
  def softmaxMax(logits: Array[Double]): Array[Double] = {
    val m = logits.max
    softmax(logits.map(_ - m))
  }

  /** logit / sum(logits) — :105. */
  def probaDirect(logits: Array[Double]): Array[Double] = {
    val s = logits.sum
    logits.map(_ / s)
  }

  /** logit − min/sum(logits − min) — :106, with Python's precedence
    * (`log - (min / sum(shifted))`), NOT (log − min)/sum(shifted). */
  def probaCentered(logits: Array[Double]): Array[Double] = {
    val m = logits.min
    val s = logits.map(_ - m).sum
    logits.map(_ - m / s)
  }

  /** raw logits — :107. */
  def transparent(logits: Array[Double]): Array[Double] = logits

  def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Logistic calibration scoring: sigmoid(w·logits + b) with a
    * broadcast weight vector. Training the weights is offline (the
    * reference does it in a notebook); scoring is a pure per-row
    * function usable inside any typed map. */
  def logisticScore(logits: Array[Double], weights: Array[Double], bias: Double): Double = {
    var z = bias
    var i = 0
    val n = math.min(logits.length, weights.length)
    while (i < n) { z += logits(i) * weights(i); i += 1 }
    sigmoid(z)
  }
}
