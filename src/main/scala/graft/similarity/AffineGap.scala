package graft.similarity

/** Affine-gap string edit distance (Gotoh's algorithm).
  *
  * This is the pairwise string comparator the reference's ML core applies to
  * every candidate pair of String-typed fields (ref: pgdedupe/run.py:50-58
  * assembles String variables; the pinned dedupe==1.6.13 scores them with
  * the public `affinegap` package's normalizedAffineGapDistance), at
  * that package's published default weights: match=1, mismatch=11,
  * gap-open=10, gap-extend=7 (on a 0..n penalty scale where lower = more
  * similar), normalized by the summed string lengths.
  *
  * Pure JVM function — called from inside whole-stage codegen by the
  * native [[graft.functions.AffineGapDistance]] expression (formerly a
  * codegen-opaque Scala UDF); the DP is O(|a|·|b|) with two rolling
  * rows, no allocation in the inner loop.
  */
object AffineGap {

  final val MatchWeight = 1.0
  final val MismatchWeight = 11.0
  final val GapOpenWeight = 10.0
  final val GapExtendWeight = 7.0

  // Per-thread scratch rows: the DP is called tens of millions of times
  // per scoring pass, and six fresh arrays per call is pure GC pressure.
  // Grown on demand; executor task threads each get their own copy.
  private val scratch = new ThreadLocal[Array[Array[Double]]] {
    override def initialValue(): Array[Array[Double]] =
      Array.fill(6)(new Array[Double](64))
  }

  /** Raw (unnormalized) affine-gap alignment penalty at the weights
    * above. */
  def distance(a0: String, b0: String): Double = {
    // Ensure b is the shorter string so rolling rows are minimal.
    val (a, b) = if (a0.length >= b0.length) (a0, b0) else (b0, a0)
    val n = a.length
    val m = b.length
    if (m == 0)
      return if (n == 0) 0.0 else GapOpenWeight + GapExtendWeight * n
    if (a == b) return MatchWeight * n // identical: n matches, no gaps

    val inf = Double.MaxValue / 4
    var rows = scratch.get()
    if (rows(0).length < m + 1) {
      rows = Array.fill(6)(new Array[Double](Integer.highestOneBit(m) * 4))
      scratch.set(rows)
    }
    // M(i,j): best score ending in a match/mismatch at (i,j)
    // X(i,j): best score ending in a gap in b (consume a char of a)
    // Y(i,j): best score ending in a gap in a (consume a char of b)
    var prevM = rows(0)
    var prevX = rows(1)
    var prevY = rows(2)
    var curM = rows(3)
    var curX = rows(4)
    var curY = rows(5)

    prevM(0) = 0.0; prevX(0) = inf; prevY(0) = inf
    var j = 1
    while (j <= m) {
      prevM(j) = inf
      prevX(j) = inf
      prevY(j) = GapOpenWeight + GapExtendWeight * j
      j += 1
    }

    var i = 1
    while (i <= n) {
      curM(0) = inf
      curX(0) = GapOpenWeight + GapExtendWeight * i
      curY(0) = inf
      val ac = a.charAt(i - 1)
      j = 1
      while (j <= m) {
        val subst = if (ac == b.charAt(j - 1)) MatchWeight else MismatchWeight
        val diagBest =
          math.min(prevM(j - 1), math.min(prevX(j - 1), prevY(j - 1)))
        curM(j) = diagBest + subst
        val upBest = math.min(prevM(j) + GapOpenWeight, prevX(j))
        curX(j) =
          math.min(upBest, prevY(j) + GapOpenWeight) + GapExtendWeight
        val leftBest = math.min(curM(j - 1) + GapOpenWeight, curY(j - 1))
        curY(j) =
          math.min(leftBest, curX(j - 1) + GapOpenWeight) + GapExtendWeight
        j += 1
      }
      // Reference SWAP, not arraycopy: copying 3·(m+1) doubles per
      // outer row was pure wasted bandwidth in the hottest loop of the
      // scoring pass (the next row only ever READS prev and WRITES
      // cur, so recycling cur's old buffer as the new cur is safe).
      var t = prevM; prevM = curM; curM = t
      t = prevX; prevX = curX; curX = t
      t = prevY; prevY = curY; curY = t
      i += 1
    }
    math.min(prevM(m), math.min(prevX(m), prevY(m)))
  }

  /** Length-normalized distance in roughly [0.5, ~6]; lower = more similar.
    * Matches the normalization contract of the public affinegap package
    * (penalty / (len(a)+len(b))); identical strings score 0.5
    * (= matchW * n / 2n).
    */
  def normalized(a: String, b: String): Double = {
    if (a == null || b == null) return Double.NaN
    val denom = (a.length + b.length).toDouble
    if (denom == 0.0) 0.5
    else distance(a, b) / denom
  }

  /** Similarity in (0, 1]: 1 for identical strings, decaying with distance.
    * Convenience for thresholding without a trained model.
    */
  def similarity(a: String, b: String): Double = {
    val d = normalized(a, b)
    if (d.isNaN) 0.0 else math.exp(-(d - 0.5))
  }
}
