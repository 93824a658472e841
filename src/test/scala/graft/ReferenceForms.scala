package graft

import graft.functions.{Dedup, IvfIndex}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The builtin-higher-order-function forms of the native expressions, in
  * Spark's own functions: each interprets a lambda per element where the
  * native form runs one tight loop, and the specs pin the two bit-equal.
  */
object ReferenceForms {

  /** [[graft.functions.Similarity.dot]]: a left-to-right fold in double. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, x) => s + x)

  /** Word 3-shingles of normalized text as STRINGS, the twin of the
    * native shingle pass in [[graft.functions.TextAnalysis.topNgramsByDocFreq]]:
    * for token count n, shingles start at 1..max(n−2, 1), each taking up
    * to 3 tokens — short docs yield their whole text as one shingle.
    */
  def wordShingles(c: Column): Column = {
    val t = split(regexp_replace(lower(trim(c)), "\\s+", " "), " ")
    transform(sequence(lit(1), greatest(size(t) - 2, lit(1))),
      i => concat_ws(" ", slice(t, i, lit(3))))
  }

  /** [[graft.functions.TextAnalysis.linearScore]]: every hash
    * hex-round-trips through `md5`/`conv`.
    */
  def linearScoreHof(c: Column, nBuckets: Int = 512): Column = {
    require(nBuckets >= 2 && nBuckets % 2 == 0,
      s"nBuckets must be even >= 2, got $nBuckets")
    val toks = split(regexp_replace(lower(trim(c)), "\\s+", " "), " ")
    val wsum = aggregate(toks, lit(0L), (acc, w) =>
      acc + (conv(substring(md5(w.cast("binary")), 1, 8), 16, 10)
        .cast("long") % nBuckets) - lit(nBuckets / 2))
    when(length(trim(c)) === 0, lit(0.0))
      .otherwise(wsum.cast("double") / size(toks).cast("double"))
  }

  /** `IvfIndex.nearestCentroid`: nLists interpreted folds per row. */
  def nearestCentroidHof(v: Column, centers: Array[Array[Double]]): Column = {
    val dists = array(centers.map(c =>
      IvfIndex.sqDist(v, array(c.map(lit(_)): _*))): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** The multi-probe list assignment ([[graft.plans.NearestListsF]]):
    * nLists distance folds plus an nLists-element sort per row.
    */
  def nearestListsHof(v: Column, centers: Array[Array[Double]],
                      nProbe: Int): Column = {
    val nLists = centers.length
    val dists = transform(
      array(centers.map(c => array(c.map(lit(_)): _*)): _*),
      c => IvfIndex.sqDist(v, c))
    slice(array_sort(zip_with(dists, sequence(lit(0), lit(nLists - 1)),
      (d, i) => struct(d.as("d"), i.as("list_id")))), 1, nProbe)
      .getField("list_id")
  }

  /** Squared distance of subspace `i` of `v` to a literal sub-centroid. */
  private def subSqDist(v: Column, i: Int, dsub: Int,
                        cent: Array[Double]): Column =
    aggregate(zip_with(slice(v, i * dsub + 1, dsub),
      array(cent.map(lit(_)): _*),
      (x, y) => { val d = x.cast("double") - y; d * d }),
      lit(0.0), (s, x) => s + x)

  /** [[graft.functions.PqIndex.encodeExpr]]: m·ksub interpreted folds per
    * row.
    */
  def encodeExprHof(v: Column, codebooks: Array[Array[Array[Double]]],
                    dsub: Int): Column =
    array(codebooks.zipWithIndex.map { case (cb, i) =>
      val dists = array(cb.map(c => subSqDist(v, i, dsub, c)): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)

  /** Mersenne prime 2^31−1: the MinHash permutation modulus. */
  val MinhashPrime = 2147483647L

  /** Deterministic permutation coefficients from a seed. */
  def permutations(nPerm: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(nPerm)((1L + r.nextInt(Int.MaxValue - 2).toLong,
      r.nextInt(Int.MaxValue - 1).toLong))
  }

  /** [[graft.functions.Dedup.minhashSignature]]. */
  def minhashSignatureHof(shingleCol: Column, nPerm: Int = 64, seed: Long = 42L): Column = {
    val hashes = transform(shingleCol, s => pmod(xxhash64(s), lit(MinhashPrime)))
    // bind `hashes` once via the single-element-array trick: otherwise each
    // of the nPerm permutation rows would re-hash every shingle string
    element_at(
      transform(array(hashes), hs =>
        array(permutations(nPerm, seed).map { case (a, b) =>
          array_min(transform(hs, h => pmod(h * lit(a) + lit(b), lit(MinhashPrime))))
        }: _*)), 1)
  }

  /** [[graft.functions.Dedup.shingleHashesAll]]: an allocation and a
    * rehash per position.
    */
  def shingleHashesAllHof(c: Column, k: Int): Column = {
    val toks = split(Dedup.normalizeText(c), " ")
    // bind the token array once (single-element-array trick)
    element_at(transform(array(toks), ts =>
      transform(sequence(lit(1), greatest(size(ts) - lit(k - 1), lit(1))),
        i => xxhash64(concat_ws(" ", slice(ts, i, lit(k)))))), 1)
  }

  /** [[graft.functions.Dedup.simhash]]. */
  def simhashHof(c: Column): Column = {
    val hashes = transform(split(Dedup.normalizeText(c), " "), t => xxhash64(t))
    val zeros = array((0 until Dedup.SimhashBits).map(_ => lit(0L)): _*)
    val pow2 = array((0 until Dedup.SimhashBits).map(b => lit(1L << b)): _*)
    // bind [pow2, hashes] once — a literal array referenced inside a
    // per-token lambda would be re-materialized for every token
    element_at(transform(array(array(pow2, hashes)), ba => {
      val p2 = element_at(ba, 1)
      val hs = element_at(ba, 2)
      val votes = aggregate(hs, zeros, (acc, h) =>
        zip_with(acc, p2, (a, p) =>
          a + when((h.bitwiseAND(p)) =!= 0, lit(1L)).otherwise(lit(-1L))))
      aggregate(zip_with(votes, p2, (v, p) => when(v > 0, p).otherwise(lit(0L))),
        lit(0L), (s, x) => s + x)
    }), 1)
  }
}
