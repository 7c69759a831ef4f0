package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** K-minimum-values (KMV / bottom-k "theta") sketch as a typed,
  * MERGEABLE Aggregator over 64-bit hashes — the distinct-count sketch
  * that, unlike HLL registers (q193/t66), also supports SET OPERATIONS:
  * two sketches merge into the union's sketch, and membership of the
  * union's bottom-k in each input sketch yields unbiased
  * intersection/Jaccard estimates (Beyer et al. 2007, "On Synopses for
  * Distinct-Value Estimation under Multiset Operations"; the Theta
  * sketch framing is Dasgupta et al. 2016).
  *
  * The sketch is the set of the k smallest DISTINCT hash values under
  * UNSIGNED 64-bit order (hashes are uniform on [0, 2^64); the k-th
  * smallest u_k estimates k/ndv of the range, so
  * ndv ≈ (k-1)·2^64/u_k — the unbiased KMV estimator). Everything is
  * deterministic given the hash function: the sketch CONTENTS are
  * partition- and merge-order-invariant (a set has one value), so
  * estimates are exactly reproducible and DuckDB-replayable — unlike
  * Misra–Gries, whose contents are order-dependent and only its BOUNDS
  * are pinned.
  *
  * Scale shape: per (partition, group) the partial aggregate is ≤ k
  * longs however many billions of rows stream through; merges are
  * sorted-set unions truncated to k. reduce() is O(log k) per rejected
  * row (the common case once the sketch warms: a row enters with
  * probability ~k/i at the i-th distinct value, so total insertions are
  * ~k·ln(ndv) per partition).
  *
  * Reference behavior: priyanka57/dask-datapipeline has no sketching
  * and computes no distinct counts anywhere in its 334-line core
  * (main.py) — SURVEY.md §2B lists distinct/approximate aggregation as
  * an absent category mandated for the engine; this sketch is the
  * 100-TB-scale implementation of that mandate.
  */
object Kmv {

  private val Big = 0x8000000000000000L // flips sign bit: unsigned order
                                        // of h == signed order of h ^ Big

  /** Merge two unsigned-sorted distinct arrays, truncated to k. */
  private[graft] def mergeSorted(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] = {
    val out = new scala.collection.mutable.ArrayBuffer[Long](k)
    var i = 0; var j = 0
    while (out.size < k && (i < a.size || j < b.size)) {
      if (i >= a.size) { out += b(j); j += 1 }
      else if (j >= b.size) { out += a(i); i += 1 }
      else {
        val c = java.lang.Long.compareUnsigned(a(i), b(j))
        if (c < 0) { out += a(i); i += 1 }
        else if (c > 0) { out += b(j); j += 1 }
        else { out += a(i); i += 1; j += 1 }
      }
    }
    out.toSeq
  }

  /** The unbiased KMV estimate of a bottom-`k` sketch: its size below k
    * distinct hashes, else (k-1)·2^64 / u_k with u_k the k-th smallest
    * hash read unsigned. The driver-side twin of the SQL form
    * [[graft.Queries83.ndvEstimate]], which the DuckDB oracles replay;
    * the two are pinned equal. */
  private[graft] def ndvEstimate(sketch: Seq[Long], k: Int): Long =
    if (sketch.size < k) sketch.size.toLong
    else {
      val u = BigInt(sketch(k - 1))
      ((BigInt(k - 1) << 64) / (if (u < 0) u + (BigInt(1) << 64) else u)).toLong
    }

  /** Buffer: the bottom-k distinct hashes, unsigned-ascending. A NULL
    * input (the hash of a NULL value) is not a value and leaves the
    * sketch as it is, as SQL's distinct counts skip NULL. */
  class SketchAgg(k: Int)
      extends Aggregator[java.lang.Long, Seq[Long], Seq[Long]] {
    require(k >= 2, s"kmv: k must be >= 2, got $k")
    override def zero: Seq[Long] = Vector.empty

    override def reduce(acc: Seq[Long], hash: java.lang.Long): Seq[Long] =
      if (hash == null) acc else reduce(acc, hash.longValue)

    /** [[reduce]] of a non-NULL hash. */
    def reduce(acc: Seq[Long], h: Long): Seq[Long] = {
      val n = acc.size
      if (n == k && java.lang.Long.compareUnsigned(h, acc(n - 1)) >= 0) acc
      else {
        // binary search on the signed image (same order as unsigned raw)
        val key = h ^ Big
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if ((acc(mid) ^ Big) < key) lo = mid + 1 else hi = mid
        }
        if (lo < n && acc(lo) == h) acc // already present
        else {
          val grown = acc.patch(lo, Seq(h), 0)
          if (grown.size > k) grown.dropRight(1) else grown
        }
      }
    }

    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      mergeSorted(a, b, k)

    override def finish(acc: Seq[Long]): Seq[Long] = acc
    override def bufferEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** Column-facing form: `kmv_sketch(k)(hashCol)` usable in `agg(...)`;
    * input must be a 64-bit hash column (e.g. [[Expressions.fnv_hash]]).
    * NULL hashes are skipped (the input is read boxed, so a NULL is not
    * deserialized to 0).
    */
  def kmv_sketch(k: Int)(hash: Column): Column =
    udaf(new SketchAgg(k), Encoders.LONG).apply(hash)
}
