package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.LlmOps.{md5Hash48, shinglePairs, tokens}

/** Interpreted higher-order-function compositions of the native graft
  * expressions — the declarative twins the parity specs compare the
  * natives against, value for value. Test-only: the operators in
  * `src/main` build the native expressions directly.
  */
object HofTwins {

  /** Sequential-fold dot product in double precision. */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** Twin of `cosine_sim`: dot / (|a| * |b|), 0 for a zero-norm side. */
  def cosine(a: Column, b: Column): Column = {
    val na = dot(a, a)
    val nb = dot(b, b)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot(a, b) / (sqrt(na) * sqrt(nb)))
  }

  /** Twin of `ordered_pairs`: every (a, b) pair of positions with a < b by
    * value, in position order; null-sided pairs drop.
    */
  def orderedPairs(arr: Column): Column =
    flatten(transform(arr, a =>
      filter(transform(arr, b => struct(a.as("a"), b.as("b"))),
        p => p.getField("a") < p.getField("b"))))

  /** Position-order pairs (a before b) of an array — equal to
    * `ordered_pairs` on strictly-ascending arrays.
    */
  def pairStructs(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)),
        y => struct(x.as("a"), y.as("b")))))

  /** Distinct xxhash64 word n-gram hashes: token hashes first, then one
    * hash per window — the same set cardinality as `hashed_shingles`,
    * from a different hash family.
    */
  def shingleHashes(c: Column, n: Int): Column = {
    val th = transform(tokens(c), t => xxhash64(t))
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(th) - n, lit(0))),
        i => xxhash64(slice(th, i + 1, lit(n)))))
  }

  /** k independent xxhash64 min-hashes over a shingle-hash set. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    aggregate(
      shingleCol,
      array_repeat(lit(Long.MaxValue), k),
      (acc, sh) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, xxhash64(sh, j))))

  /** Twin of `minhash_plan`: distinct md5-48 shingle hashes `sh` and the
    * signature sig[j] = min over shingles of (h1 + j·h2).
    */
  def minhashPlan(c: Column, n: Int, k: Int): Column = {
    val pairs = shinglePairs(c, n)
    val sig = aggregate(
      pairs,
      array_repeat(lit(Long.MaxValue), k),
      (acc, p) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, j) => least(m, p.getField("h1") + j * p.getField("h2"))))
    struct(
      array_distinct(transform(pairs, p => p.getField("h1"))).as("sh"),
      sig.as("sig"))
  }

  /** Twin of `simhash48`: per-bit ±1 votes of the md5-48 token hashes,
    * packed into a long.
    */
  def simhash(textCol: Column, bits: Int): Column = {
    val hashes = transform(tokens(textCol), t => md5Hash48(t, 1))
    val bitVotes = aggregate(
      hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)))
    aggregate(
      zip_with(bitVotes, sequence(lit(0), lit(bits - 1)),
        (c, i) => when(c > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc + b)
  }
}
