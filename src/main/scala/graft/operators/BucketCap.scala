package graft.operators

/** The ONE spelling of the LSH collision-side posting-cap keep rule,
  * applied by the banded core's truncation ([[Banded.truncate]]) for
  * every capped near-duplicate family, with a DuckDB twin so every
  * oracle interpolates the identical arithmetic and the two engines'
  * truncation rules cannot drift.
  *
  * Rule: a bucket of size `bsz <= cap` passes through UNTOUCHED (the
  * operator is the identity at oracle-gate scale); a bucket of size
  * `bsz > cap` keeps a row iff
  *
  *   lcg(lcg(id mod M)) mod ceil(bsz / cap) == 0
  *   where lcg(x) = (48271 * x + 11) mod M,  M = 2^31 - 1 (prime)
  *
  * i.e. keep iff TWO rounds of an MINSTD-style LCG over the prime
  * 2^31-1 land on 0 mod the divisor. Two rounds, with the mod-M
  * reduction BETWEEN them, is what makes the representative choice
  * DISTRIBUTION-INDEPENDENT — the failure modes of the naive
  * `id % divisor == 0` spelling (and of a single LCG round, which for
  * ids under ~44k never wraps M and so stays affine — an arithmetic
  * id progression then still collapses mod the divisor) are closed:
  *
  *   - id structure: ids that are all ≡ 0 (mod divisor) — e.g. a
  *     batch split like `vec_id % 5 == 0` meeting divisor 5 — would
  *     ALL survive the naive rule (no truncation at all, the quadratic
  *     blowup returns); ids avoiding multiples of the divisor would
  *     leave ~0 representatives (recall silently zeroed). After two
  *     wrapped rounds the hash is equidistributed mod any small
  *     divisor over every id progression (measured: stride-5 ids vs
  *     divisor 5 keep 2001/10000 ≈ 1/5; the naive and 1-round rules
  *     keep 10000 and 0), so survivors ≈ bsz/divisor ∈ (cap/2, cap]
  *     in expectation for every id distribution.
  *   - divisor structure: the multiplier/increment share no structure
  *     with any divisor because the prime-mod wrap sits between the
  *     linear maps and the `mod divisor` step.
  *
  * keep(id, bsz) is a pure function of (id, bucket size) — the
  * property the incremental == one-shot equivalence law rests on
  * (truncating each side of a union by the UNION's bucket sizes equals
  * truncating the union table).
  *
  * Engine parity: for non-negative ids (every gated corpus id) the
  * Spark and DuckDB spellings below are the same arithmetic; the Spark
  * side uses `pmod` so the rule stays total (deterministic, merely
  * ungated) if a caller ever feeds negative ids. */
object BucketCap {
  /** Default collision-side posting cap — chosen so truncation is
    * provably the IDENTITY at oracle-gate scale (sf0.01: 500 vectors /
    * small md5-band buckets, nothing reaches 512) while bounding LSH
    * candidate volume to `nBands × N × cap` (linear in N) at any
    * corpus size. */
  val DefaultCap: Int = 512

  private val Mult = 48271L      // MINSTD multiplier (primitive root)
  private val Inc = 11L
  private val Mod = 2147483647L  // 2^31 - 1, prime

  /** Spark SQL fragment: keep-predicate over `idExpr` (a BIGINT-able
    * column/expression) and `bszExpr` (the bucket's size). */
  def keepSql(idExpr: String, bszExpr: String, cap: Int): String = {
    require(cap >= 1, "bucket cap must be >= 1")
    val r1 = s"pmod($Mult * pmod($idExpr, $Mod) + $Inc, $Mod)"
    s"($bszExpr <= $cap OR " +
      s"pmod($Mult * $r1 + $Inc, $Mod) % " +
      s"(($bszExpr + ${cap - 1}) DIV $cap) = 0)"
  }

  /** DuckDB twin of [[keepSql]] — identical arithmetic for
    * non-negative ids (`%` == `pmod` there; `//` == `DIV`). */
  def keepDuck(idExpr: String, bszExpr: String, cap: Int): String = {
    require(cap >= 1, "bucket cap must be >= 1")
    val r1 = s"(($Mult * ($idExpr % $Mod) + $Inc) % $Mod)"
    s"($bszExpr <= $cap OR " +
      s"(($Mult * $r1 + $Inc) % $Mod) % " +
      s"(($bszExpr + ${cap - 1}) // $cap) = 0)"
  }

  /** Scala replay of the rule for specs (non-negative ids). */
  def keeps(id: Long, bsz: Long, cap: Int): Boolean = {
    val r1 = (Mult * (id % Mod) + Inc) % Mod
    bsz <= cap ||
      ((Mult * r1 + Inc) % Mod) % ((bsz + cap - 1) / cap) == 0
  }
}
