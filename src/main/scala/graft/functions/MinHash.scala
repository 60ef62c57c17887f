package graft.functions

/** The MinHash definitions the batch dedup family (`LlmOps`) and the
  * streaming gate (`StreamDedup`) both read, so the two sides cannot
  * drift: a stream document's band signature matches a stored
  * document's only if both were hashed by the same permutations. */
object MinHash {

  /** Prime modulus of the universal hash family (a·h + b) mod P. */
  val P = 1000000007L

  /** The 16 (a, b) permutations; permutation j yields signature column
    * `m<j>`, and band k pairs m(2k) with m(2k+1). */
  val Perms: Seq[(Long, Long)] = Seq(
    (7L, 3L), (11L, 5L), (13L, 17L), (19L, 23L), (29L, 31L), (37L, 41L),
    (43L, 47L), (53L, 59L), (61L, 67L), (71L, 73L), (79L, 83L),
    (89L, 97L), (101L, 103L), (107L, 109L), (113L, 127L), (131L, 137L))

  /** The dedup τ grid (Jaccard ×10⁴) of the batch τ-sweep and the
    * streamed τ monitor. */
  val TausE4: Seq[Long] = Seq(5000L, 7000L, 8000L, 9000L)
}
