package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths the built-in function set
  * can't express efficiently (nested higher-order functions would evaluate
  * the lambda interpreter per element). All are deterministic and
  * null-intolerant, so Catalyst can push/prune around them freely.
  *
  * Derives from the reference's extension surface (similarity search /
  * near-dup dedup have no counterpart in /root/reference — see SURVEY.md §2B)
  * and public MinHash/SimHash literature (Broder 1997; Charikar 2002).
  */
object Expressions {

  /** Cosine similarity between two float-array embeddings, accumulated in
    * double, strictly left-to-right (index order) — deterministic across
    * partitionings because it is a per-row scalar, no aggregation involved.
    */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    // Pinned to array<float>: the kernel reads via getFloat, so an
    // array<double> argument (easy to produce from SQL literals) must fail
    // at analysis time, not yield garbage bit-reinterpretation.
    override def inputTypes =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      cosineSimArrays(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    // Codegen emits a static call so the surrounding projection stays inside
    // whole-stage codegen (CodegenFallback would split the fused pipeline).
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Expressions.cosineSimArrays($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Inner product of two float arrays in double accumulation, strict
    * index order — the scoring kernel for maximum-inner-product retrieval
    * ([[graft.operators.Similarity.mipsTopK]]), where the NORM matters
    * and cosine would be the wrong ranking. Same codegen shape as
    * [[CosineSim]].
    */
  case class DotProductF32(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      dotProductArrays(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Expressions.dotProductArrays($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Static kernel for [[DotProductF32]] — called from generated code. */
  def dotProductArrays(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) {
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    }
    dot
  }

  /** Static kernel for [[CosineSim]] — called from generated code. */
  def cosineSimArrays(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** 64-bit FNV-1a over a UTF8 string with a seed mixed in; the base hash
    * for MinHash permutations and SimHash token hashing. Public-domain
    * algorithm (Fowler–Noll–Vo).
    */
  @inline private[graft] def fnv1a64(s: UTF8String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the minimum hash over the input token/shingle array. One pass over the
    * tokens per row; tokens hashed once and permuted with (a*h+b) mixes —
    * O(tokens * k) longs, no per-element lambda interpretation.
    */
  case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    // Deterministic per-function odd multipliers/addends from splitmix64.
    private val as: Array[Long] = {
      var x = seed ^ 0x9e3779b97f4a7c15L
      Array.fill(numHashes) { x = splitmix(x); x | 1L }
    }
    private val bs: Array[Long] = {
      var x = seed ^ 0x2545f4914f6cdd1dL
      Array.fill(numHashes) { x = splitmix(x); x }
    }
    @inline private def splitmix(in: Long): Long = {
      var z = in + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = fnv1a64(arr.getUTF8String(i), 0L)
        var j = 0
        while (j < numHashes) {
          val p = as(j) * h + bs(j)
          if (p < sig(j)) sig(j) = p
          j += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** SimHash (Charikar 2002): 64-bit fingerprint where bit i is the sign of
    * the sum over tokens of ±1 according to bit i of the token hash.
    * Near-duplicate texts land within small Hamming distance.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val acc = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = fnv1a64(arr.getUTF8String(i), 0L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** DSIR-style hashed n-gram feature stream (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): every
    * unigram and bigram of the token array, hashed into `buckets` bins —
    * WITH multiplicity (unlike [[WordShingles]]' distinct set), because
    * importance weights sum per occurrence. One pass, codegen'd; the
    * bucket is the low bits of FNV-1a64 (`buckets` must be a power of
    * two so unsigned-mod — what a SQL oracle computes on the unsigned
    * rendering — equals the masked signed value).
    */
  case class DsirFeatures(child: Expression, buckets: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"DsirFeatures: buckets must be a power of two, got $buckets")
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dsir", this, classOf[DsirFeatures].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    @inline private def bucket(h: Long): Int = (h & (buckets - 1)).toInt
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Any](if (n == 0) 0 else 2 * n - 1)
      var i = 0
      while (i < n) {
        out(i) = bucket(fnv1a64(arr.getUTF8String(i), 0L))
        i += 1
      }
      i = 0
      while (i + 1 < n) {
        val bg = UTF8String.concatWs(UTF8String.fromString(" "),
          arr.getUTF8String(i), arr.getUTF8String(i + 1))
        out(n + i) = bucket(fnv1a64(bg, 0L))
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Sum of squared byte values of a binary column — the integer
    * "energy" of a payload window (keyframe/scene-change detection on
    * stub frames; a real pixel/PCM decoder feeds the same statistic).
    * One codegen'd pass, exact in Long for any realistic frame size.
    */
  case class ByteSumSquares(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bse", this, classOf[ByteSumSquares].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      var s = 0L
      var i = 0
      while (i < b.length) {
        val x = (b(i) & 0xff).toLong
        s += x * x
        i += 1
      }
      java.lang.Long.valueOf(s)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Raw seeded FNV-1a64 of a string — the shared base hash
    * ([[fnv1a64]]) exposed as a scalar, for sketch bucket keys
    * (Count-Min rows, etc.). Codegen'd static call.
    */
  case class FnvHash(child: Expression, seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fnvh", this, classOf[FnvHash].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(fnv1a64(v.asInstanceOf[UTF8String], seed))
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** SplitMix64 finalizer (Steele/Lea/Flood 2014, public domain — the
    * java.util.SplittableRandom mixer): full-avalanche scrambling of a
    * 64-bit value. FNV-1a64 of SHORT strings under-mixes the HIGH bits
    * (its multiply carries entropy upward slowly), which is harmless
    * for bucket/rho extraction (q193 reads LOW bits) but biases any
    * sketch ordered by hash MAGNITUDE — KMV's bottom-k estimator read
    * 2x high on orderkey strings before this finalizer. Exact integer
    * ops only (xor-shift + two mod-2^64 multiplies), so the DuckDB
    * oracle replays it bit-for-bit ([[ExtensionQueries.Mix64Sql]]).
    */
  @inline private[graft] def splitmix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  case class Mix64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(LongType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mix64", this, classOf[Mix64].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(splitmix64(v.asInstanceOf[Long]))
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 16-bit Morton spread: insert a zero between consecutive bits
    * (0b1011 → 0b1000101). The classic magic-mask ladder — 4 shifts, no
    * loop.
    */
  @inline private[graft] def spread16(v0: Long): Long = {
    var x = v0 & 0xFFFFL
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    (x | (x << 1)) & 0x55555555L
  }

  /** Z-order (Morton) interleave of two 16-bit coordinates into one
    * 32-bit key: bit b of x lands at position 2b, bit b of y at 2b+1.
    * Range-partitioning data by this key is the space-filling-curve
    * file layout (Delta/Iceberg "OPTIMIZE ZORDER BY") that keeps BOTH
    * dimensions' min/max file ranges tight, so predicates on EITHER
    * column skip files — the data-layout lever at 100 TB. Inputs are
    * masked to 16 bits; callers normalize coordinates into [0, 2^16)
    * first (q205 does it with an exact integer `div` by max+1).
    * Deterministic bit arithmetic, so the DuckDB oracle replays it
    * bit-for-bit from 32 shift/mod terms — independently of this
    * kernel's magic-mask ladder.
    */
  case class Morton16(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(x: Any, y: Any): Any = nullSafeEval(x, y)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("morton16", this, classOf[Morton16].getName)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a, $b)).longValue();")
    }
    override def nullSafeEval(x: Any, y: Any): Any =
      java.lang.Long.valueOf(
        spread16(x.asInstanceOf[Long]) | (spread16(y.asInstanceOf[Long]) << 1))
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(left = l, right = r)
  }

  /** Occurrence count of tokens from a fixed set — one pass over the
    * token array. Exists for the same reason as [[WordShingles]]: the
    * composable form (`filter(tokens, t -> t IN (...))` or repeated
    * `array_remove` diffs) re-evaluates the tokenization subtree per
    * element/per term once CollapseProject inlines it into the lambda.
    */
  case class StopTokenCount(child: Expression, stopwords: Seq[String])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    private val set = new java.util.HashSet[UTF8String](
      java.util.Arrays.asList(stopwords.map(UTF8String.fromString): _*))
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stopcnt", this, classOf[StopTokenCount].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Integer) $ref.compute($a)).intValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var c = 0
      var i = 0
      while (i < n) {
        if (set.contains(arr.getUTF8String(i))) c += 1
        i += 1
      }
      java.lang.Integer.valueOf(c)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Normalized word n-gram shingle set: lowercases, splits on whitespace,
    * emits distinct space-joined n-grams — one pass of Java code per row.
    *
    * Exists because the composable form (regexp_extract_all +
    * transform/slice/concat_ws higher-order functions) is catastrophically
    * slow: CollapseProject inlines the tokenization subtree into the HOF
    * lambda, so it is re-evaluated once PER ARRAY ELEMENT per row
    * (measured ~110 ms/row on 80-word docs — ~1000× this expression).
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    require(n >= 1, "shingle size must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shingler", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override def nullSafeEval(v: Any): Any = {
      val words = splitLowerWords(v.asInstanceOf[UTF8String])
      if (words.length < n) new GenericArrayData(Array.empty[Any])
      else {
        val seen = new java.util.LinkedHashSet[UTF8String]()
        var i = 0
        while (i + n <= words.length) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          seen.add(UTF8String.fromString(sb.toString))
          i += 1
        }
        new GenericArrayData(seen.toArray)
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** ALL k-token windows of normalized text, IN POSITION ORDER and WITH
    * multiplicity — the positional sibling of [[WordShingles]] (which
    * dedups). Feeds substring-span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": a span duplicated
    * across documents is found by matching exact k-token windows), where
    * the window POSITION must survive so overlapping duplicated windows
    * can later be merged into maximal spans. `posexplode` over this array
    * yields (pos, window) with pos 0-based. Same one-pass rationale as
    * [[WordShingles]].
    */
  case class WordWindows(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    require(n >= 1, "window size must be >= 1")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winds", this, classOf[WordWindows].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override def nullSafeEval(v: Any): Any = {
      val words = splitLowerWords(v.asInstanceOf[UTF8String])
      if (words.length < n) new GenericArrayData(Array.empty[Any])
      else {
        val out = new Array[Any](words.length - n + 1)
        var i = 0
        while (i + n <= words.length) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Lowercased whitespace-split words (matches
    * `regexp_extract_all(lower(text), '\S+')` for ASCII + Unicode
    * whitespace handled by Character.isWhitespace).
    */
  private[functions] def splitLowerWords(s: UTF8String): Array[String] = {
    val str = s.toString.toLowerCase(java.util.Locale.ROOT)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && Character.isWhitespace(str.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(str.charAt(i))) i += 1
      if (i > start) out += str.substring(start, i)
    }
    out.toArray
  }

  /** LSH band bucket keys straight from a shingle array: computes the
    * `bands*rowsPerBand` MinHash signature AND hashes each band's slice in
    * ONE pass, returning array<long> of length `bands`. Avoids a second
    * expression over the signature (which CollapseProject would inline and
    * re-evaluate per band — see [[WordShingles]] note).
    */
  case class MinHashBandKeys(child: Expression, bands: Int, rowsPerBand: Int,
                             seed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bandkeys", this, classOf[MinHashBandKeys].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private val inner = MinHashSig(child, bands * rowsPerBand, seed)
    override def nullSafeEval(v: Any): Any = {
      val sig = inner.nullSafeEval(v).asInstanceOf[GenericArrayData]
      val keys = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = 0xcbf29ce484222325L ^ b
        var r = 0
        while (r < rowsPerBand) {
          val x = sig.getLong(b * rowsPerBand + r)
          h ^= x
          h *= 0x100000001b3L
          r += 1
        }
        keys(b) = h
        b += 1
      }
      new GenericArrayData(keys)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Fraction of a word array's n-grams taken by the single most frequent
    * n-gram (Gopher-style repetition signal; Rae et al. 2021 §A1.2).
    * 0.0 when the array has fewer than n words.
    *
    * A custom expression because per-row mode-of-ngrams has no built-in
    * form: the HOF alternative (transform to grams, then aggregate with a
    * per-element array_count) is O(len²) per row with lambda
    * interpretation on top — this is one hash-count pass.
    */
  case class TopGramFrac(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(StringType))
    require(n >= 1, "gram size must be >= 1")
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("topgram", this, classOf[TopGramFrac].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Double) $ref.compute($a)).doubleValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val total = arr.numElements() - n + 1
      if (total <= 0) java.lang.Double.valueOf(0.0)
      else {
        val counts = new java.util.HashMap[String, Int](total)
        var max = 0
        var i = 0
        while (i < total) {
          val sb = new java.lang.StringBuilder(arr.getUTF8String(i).toString)
          var j = 1
          while (j < n) {
            sb.append(' ').append(arr.getUTF8String(i + j).toString); j += 1
          }
          val c = counts.merge(sb.toString, 1, Integer.sum)
          if (c > max) max = c
          i += 1
        }
        java.lang.Double.valueOf(max.toDouble / total.toDouble)
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All `numTables` random-hyperplane LSH signatures of an embedding in
    * ONE pass: signature t = the `numBits` sign bits of dot products with
    * Gaussian planes seeded `baseSeed + t`, packed into a long (Charikar
    * 2002). Returns array<long> of length `numTables`.
    *
    * Exists because the composable form (numBits × aggregate(zip_with)
    * per table) builds numTables·numBits lambda-interpreted HOF chains —
    * a huge expression tree that dominates both Catalyst analysis time
    * and per-row cost. The plane stream is identical to java.util.Random
    * nextGaussian with the same seeds, and the dot product accumulates in
    * double, strictly index order, so bucket ids match the HOF form
    * bit-for-bit.
    */
  case class HyperplaneSigs(child: Expression, dim: Int, numBits: Int,
                            numTables: Int, baseSeed: Long)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(FloatType))
    require(numBits >= 1 && numBits <= 63, "numBits must fit in a long")
    require(numTables >= 1, "need at least one table")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hplanes", this, classOf[HyperplaneSigs].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    private val planes: Array[Array[Array[Double]]] =
      Array.tabulate(numTables) { t =>
        val rnd = new java.util.Random(baseSeed + t)
        Array.fill(numBits)(Array.fill(dim)(rnd.nextGaussian()))
      }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      val x = new Array[Double](n)
      var i = 0
      while (i < n) { x(i) = arr.getFloat(i).toDouble; i += 1 }
      val out = new Array[Long](numTables)
      var t = 0
      while (t < numTables) {
        val pt = planes(t)
        var sig = 0L
        var b = 0
        while (b < numBits) {
          val p = pt(b)
          var dot = 0.0
          var j = 0
          while (j < n) { dot += x(j) * p(j); j += 1 }
          if (dot >= 0.0) sig |= (1L << b)
          b += 1
        }
        out(t) = sig
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Symmetric per-vector int8 quantization of a float embedding — the
    * 4× storage/bandwidth reduction step of a large-scale embedding
    * pipeline. Returns struct(scale double, q array<long>,
    * max_abs_err double) in ONE pass:
    *   scale = max(|x_i|)/127;  q_i = clamp(floor(x_i/scale + 0.5), ±127)
    * floor(x+0.5) instead of round() because round's half-way
    * tie-breaking differs across engines for negatives (Java rounds
    * -2.5 → -2, SQL round-half-away gives -3); floor is exact and
    * identical everywhere, which is what lets a SQL oracle reproduce the
    * quantized codes bit-for-bit. All-zero vectors quantize to all-zero
    * codes with scale 0.
    */
  case class QuantizeInt8(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(FloatType))
    override def dataType: DataType = StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("q", ArrayType(LongType, containsNull = false),
                  nullable = false),
      StructField("max_abs_err", DoubleType, nullable = false)))
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("quant", this, classOf[QuantizeInt8].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.compute($a);")
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var amax = 0.0
      var i = 0
      while (i < n) {
        val a = math.abs(arr.getFloat(i).toDouble)
        if (a > amax) amax = a
        i += 1
      }
      val scale = amax / 127.0
      val q = new Array[Long](n)
      var err = 0.0
      if (scale > 0.0) {
        i = 0
        while (i < n) {
          val x = arr.getFloat(i).toDouble
          var c = math.floor(x / scale + 0.5)
          if (c > 127.0) c = 127.0
          if (c < -127.0) c = -127.0
          q(i) = c.toLong
          val e = math.abs(x - c * scale)
          if (e > err) err = e
          i += 1
        }
      }
      org.apache.spark.sql.catalyst.InternalRow(
        scale, new GenericArrayData(q), err)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Karp–Rabin style rolling polynomial fingerprint of a string (document
    * fingerprinting primitive; mod 2^64 arithmetic).
    */
  case class RollingHash(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("rollhash", this, classOf[RollingHash].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var h = 0L
      var i = 0
      while (i < bytes.length) { h = h * 257L + (bytes(i) & 0xffL); i += 1 }
      java.lang.Long.valueOf(h)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** DEFLATE-compressed byte length of a string (java.util.zip.Deflater,
    * level 6, zlib wrapper) — the compression-ratio quality signal used
    * by public pretraining-data pipelines (e.g. Dolma / RedPajama-style
    * "compression ratio" filters): highly repetitive boilerplate
    * compresses far below natural prose, and near-random noise barely
    * compresses at all. Deflate output bytes are implementation-defined,
    * so this is a rows-only (non-oracle) signal by design — but it is
    * deterministic within a JVM, and RATIOS are stable enough across
    * zlib implementations for threshold filtering.
    *
    * Per-row cost is O(len); no shuffle — this is a pure map-side
    * column. The Deflater is allocated per call (not thread-local):
    * codegen may evaluate from many tasks, and a shared native zlib
    * stream would race.
    */
  case class DeflateLen(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("deflen", this, classOf[DeflateLen].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = ((java.lang.Long) $ref.compute($a)).longValue();")
    }
    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val d = new java.util.zip.Deflater(6)
      try {
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        java.lang.Long.valueOf(total)
      } finally d.end()
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Jaro-Winkler similarity in [0,1] — the standard Winkler (1990)
    * formulation: Jaro with match window `max(⌊max(l1,l2)/2⌋−1, 0)` and
    * transpositions = order-mismatched match pairs / 2, plus a prefix
    * boost (≤4 chars, p=0.1) applied only when jaro > 0.7; either input
    * empty → 0. These choices empirically bit-match DuckDB's
    * `jaro_winkler_similarity` (probed: martha/marhta 0.961..., ab/ba 0,
    * abcdxy/badcyx 5/6), so results hash-match the oracle without
    * rounding. Spark has no built-in — levenshtein is the only string
    * metric — and a per-row HOF composition would interpret lambdas per
    * char; this is one O(l1·window) pass per row, inside codegen.
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType, StringType)
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      jaroWinkler(l.asInstanceOf[UTF8String].toString,
                  r.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Expressions.jaroWinkler($a.toString(), $b.toString());")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Static kernel for [[JaroWinkler]] — called from generated code. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1); val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var mismatched = 0; var k = 0; i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) mismatched += 1
        k += 1
      }
      i += 1
    }
    // transpositions = FLOOR(mismatched/2) — integer, matching DuckDB
    // (probed: 3 order-mismatches → t=1, 0.944..., not half 1.5)
    val m = matches.toDouble
    val jaro = (m / l1 + m / l2 + (m - mismatched / 2) / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val maxP = math.min(4, math.min(l1, l2))
      var p = 0
      while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    }
  }

  /** Sentence segmentation as a custom Catalyst GENERATOR — the
    * table-valued expression class (one input row → N output rows), the
    * last expression kind in the extension ladder not yet exercised by a
    * scalar Expression or an Aggregator. Splits on `[.!?]+`,
    * whitespace-normalizes, drops empties, and emits
    * `(sent_idx, sentence)` with the index assigned AFTER filtering (the
    * mirrored oracle filters the list before unnesting, so indices agree
    * by construction).
    *
    * The analyzer's ExtractGenerator lifts this into a `Generate` node
    * exactly as it does for `explode` — the operator streams, never
    * materializing a per-row array column, which is the point vs a
    * split+filter+posexplode composition: no intermediate array allocation
    * and one fewer projection in the hot path.
    */
  case class SentenceSplit(child: Expression)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == StringType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sentences needs a STRING argument, got ${child.dataType}")

    override def elementSchema: StructType = StructType(Seq(
      StructField("sent_idx", IntegerType, nullable = false),
      StructField("sentence", StringType, nullable = false)))

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
        : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
      val v = child.eval(input)
      if (v == null) Nil
      else {
        val sents = v.toString.split("[.!?]+").iterator
          .map(_.replaceAll("\\s+", " ").trim)
          .filter(_.nonEmpty)
        sents.zipWithIndex.map { case (s, i) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i, UTF8String.fromString(s)))
        }.toSeq
      }
    }

    override protected def withNewChildInternal(c: Expression): SentenceSplit =
      copy(child = c)
  }

  /** Diacritic stripping via Unicode canonical decomposition: NFD
    * normalize, drop combining marks (Mn/Mc/Me), recompose. The text
    * normalization step every multilingual corpus pipeline runs before
    * fingerprinting/dedup — "café" and "cafe" must land in the same
    * bucket. Spark has no built-in (translate() needs an explicit char
    * map, which can never cover Unicode); this is one ICU-free
    * java.text.Normalizer pass per row, ASCII fast-path included so the
    * common case never allocates.
    */
  case class Unaccent(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    def compute(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unacc", this, classOf[Unaccent].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.compute($a);")
    }
    override def nullSafeEval(v: Any): Any = {
      val u = v.asInstanceOf[UTF8String]
      // ASCII can't carry diacritics: skip the Normalizer entirely
      if (u.isFullAscii) u
      else {
        val s = u.toString
        val nfd = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(nfd.length)
        var i = 0
        while (i < nfd.length) {
          val c = nfd.charAt(i)
          val t = Character.getType(c)
          if (t != Character.NON_SPACING_MARK &&
              t != Character.COMBINING_SPACING_MARK &&
              t != Character.ENCLOSING_MARK) sb.append(c)
          i += 1
        }
        UTF8String.fromString(java.text.Normalizer.normalize(
          sb.toString, java.text.Normalizer.Form.NFC))
      }
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // Column-facing wrappers.
  def sentences_split(text: Column): Column =
    Bridge.column(SentenceSplit(Bridge.expression(text)))
  def word_shingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))
  def word_windows(text: Column, n: Int): Column =
    Bridge.column(WordWindows(Bridge.expression(text), n))
  def minhash_band_keys(shingles: Column, bands: Int, rowsPerBand: Int,
                        seed: Long = 42L): Column =
    Bridge.column(
      MinHashBandKeys(Bridge.expression(shingles), bands, rowsPerBand, seed))
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
  def minhash_sig(tokens: Column, numHashes: Int, seed: Long = 42L): Column =
    Bridge.column(MinHashSig(Bridge.expression(tokens), numHashes, seed))
  def simhash64(tokens: Column): Column = Bridge.column(SimHash64(Bridge.expression(tokens)))
  def dsir_features(tokens: Column, buckets: Int): Column =
    Bridge.column(DsirFeatures(Bridge.expression(tokens), buckets))
  def stop_token_count(tokens: Column, stopwords: Seq[String]): Column =
    Bridge.column(StopTokenCount(Bridge.expression(tokens), stopwords))
  def fnv_hash(s: Column, seed: Long = 0L): Column =
    Bridge.column(FnvHash(Bridge.expression(s), seed))
  def mix64(h: Column): Column = Bridge.column(Mix64(Bridge.expression(h)))
  def morton16(x: Column, y: Column): Column =
    Bridge.column(Morton16(Bridge.expression(x), Bridge.expression(y)))
  def byte_sum_squares(b: Column): Column =
    Bridge.column(ByteSumSquares(Bridge.expression(b)))
  def quantize_int8(vec: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(vec)))
  def top_gram_frac(wordArr: Column, n: Int): Column =
    Bridge.column(TopGramFrac(Bridge.expression(wordArr), n))
  def hyperplane_sigs(vec: Column, dim: Int, numBits: Int, numTables: Int,
                      baseSeed: Long = 42L): Column =
    Bridge.column(
      HyperplaneSigs(Bridge.expression(vec), dim, numBits, numTables, baseSeed))
  def rolling_hash(s: Column): Column = Bridge.column(RollingHash(Bridge.expression(s)))
  def deflate_len(s: Column): Column = Bridge.column(DeflateLen(Bridge.expression(s)))
  def dot_product_f32(a: Column, b: Column): Column =
    Bridge.column(DotProductF32(Bridge.expression(a), Bridge.expression(b)))
  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))
  def unaccent(s: Column): Column = Bridge.column(Unaccent(Bridge.expression(s)))
}
