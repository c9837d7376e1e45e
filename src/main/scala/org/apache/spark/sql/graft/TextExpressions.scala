package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole MinHash signature (k minima over word n-gram shingles) as ONE
  * row-local expression.
  *
  * Why: the explode/window/aggregate formulation (shingle rows + 64
  * min-aggs) is codegen-friendly but structurally needs a doc_id
  * shuffle to group shingles back into signatures — on a 100 TB corpus
  * that is a full-data exchange just to compute a projection-shaped
  * result. This expression computes the same k minima in one pass over
  * the row's own text, so signatures (and the banding on top) become a
  * narrow projection; the only shuffle left in MinHash dedup is the
  * bounded candidate-pair join.
  *
  * Hash semantics are IDENTICAL to `xxhash64(lit(i), shingle)` (seed 42
  * chained through the hash index, then XXH64 over the shingle's UTF-8
  * bytes), so the output matches the aggregate formulation bit-for-bit
  * — pinned by DedupSpec.
  */
case class MinHashSignature(child: Expression, shingleN: Int, numHashes: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[UTF8String], shingleN, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static call per row: the loop lives in compiled bytecode,
      // not in an interpreted expression tree
      s"${ev.value} = org.apache.spark.sql.graft.MinHashSignature" +
        s".compute($c, $shingleN, $numHashes);"
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {

  /** Same shingle construction as Dedup.shingleRows: word n-grams from
    * split(text, " ") (trailing empties kept, like Spark's split), one
    * shingle per start position 0..len-n; documents shorter than n
    * words contribute their whole text. Duplicate shingles need no
    * dedup — minima are unaffected.
    */
  def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val total = words.length
    val nShingles = math.max(total - n + 1, 1)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < nShingles) {
      val sb = new java.lang.StringBuilder
      val m = math.min(n, total - i)
      var j = 0
      while (j < m) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val shingle = UTF8String.fromString(sb.toString)
      var h = 0
      while (h < k) {
        // xxhash64(lit(h), shingle): seed 42 -> hash the int index ->
        // use the result as the seed for the shingle bytes
        val v = XXH64.hashUTF8String(shingle, XXH64.hashInt(h, 42L))
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** 64-bit SimHash as 4 x 16-bit band values, one row-local pass.
  *
  * Same rationale as [[MinHashSignature]]: the explode(words) + 64
  * sum-aggregate formulation needed a full-corpus doc_id shuffle;
  * here each word is hashed once (xxhash64 semantics: seed 42 over the
  * word's UTF-8 bytes) and its ±1 contributions accumulate into 64
  * counters in-row. Output: array<long> of 4 band values — identical
  * to Dedup.simhashBands, pinned by DedupSpec.
  */
case class SimHashBands(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    SimHashBands.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.SimHashBands.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashBands =
    copy(child = newChild)
}

object SimHashBands {
  def compute(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val counts = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(words(w)), 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      w += 1
    }
    val bands = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var bv = 0L
      var j = 0
      while (j < 16) {
        if (counts(b * 16 + j) > 0) bv |= (1L << j)
        j += 1
      }
      bands(b) = bv
      b += 1
    }
    new GenericArrayData(bands)
  }
}

/** Document fingerprint — lexicographic minimum of md5 hex digests over
  * word n-gram shingles, in one row-local pass (I4). Same shingle
  * construction as [[MinHashSignature]]; for non-null text the output
  * is identical to min(md5(shingle)) over exploded shingle rows, so the
  * DuckDB oracle is unchanged while the full-corpus explode + groupBy
  * shuffle disappears. Null text yields a null fingerprint ROW (the
  * explode formulation dropped such docs entirely) — callers wanting
  * the old shape filter nulls first, as textFingerprint does.
  */
case class MinShingleMd5(child: Expression, shingleN: Int)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "min_shingle_md5"

  override protected def nullSafeEval(input: Any): Any =
    MinShingleMd5.compute(input.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.MinShingleMd5" +
        s".compute($c, $shingleN);")

  override protected def withNewChildInternal(newChild: Expression): MinShingleMd5 =
    copy(child = newChild)
}

object MinShingleMd5 {
  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(text: UTF8String, n: Int): UTF8String = {
    val words = text.toString.split(" ", -1)
    val total = words.length
    val nShingles = math.max(total - n + 1, 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    var best: String = null
    var i = 0
    while (i < nShingles) {
      val sb = new java.lang.StringBuilder
      val m = math.min(n, total - i)
      var j = 0
      while (j < m) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      md.reset()
      val digest = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(b * 2) = hexDigits((digest(b) >> 4) & 0xf)
        hex(b * 2 + 1) = hexDigits(digest(b) & 0xf)
        b += 1
      }
      val s = new String(hex)
      if (best == null || s.compareTo(best) < 0) best = s
      i += 1
    }
    UTF8String.fromString(best)
  }
}

/** xxhash64 values of a document's word n-gram shingles as one
  * row-local array — the shared front end of shingle-overlap operators
  * (decontamination, repetition signals, candidate verify).
  *
  * Semantics are pinned to the existing column formulations so callers
  * can swap without changing results:
  *   - `distinct = true, padShort = true` ≡
  *     `transform(Dedup.shingles(text, n), s => xxhash64(s))` —
  *     first-occurrence order, dedup on the STRING (a hash collision
  *     cannot drop a distinct shingle), short docs contribute their
  *     whole text (the reference slice-clamp).
  *   - `distinct = false, padShort = false` ≡ xxhash64 over strict
  *     n-gram instances in order, empty array when the doc has fewer
  *     than n words (the repetition-signal gram contract).
  *
  * Why an Expression: the transform/higher-order form is interpreted —
  * per shingle it allocates the string AND walks an expression tree;
  * this is one compiled pass per row, and the shuffle that follows
  * (explode + count) carries 8-byte longs instead of shingle strings.
  */
case class ShingleHashes(child: Expression, shingleN: Int,
                         distinct: Boolean, padShort: Boolean)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], shingleN,
      distinct, padShort)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.ShingleHashes" +
        s".compute($c, $shingleN, $distinct, $padShort);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def compute(text: UTF8String, n: Int, distinct: Boolean,
              padShort: Boolean): ArrayData = {
    val words = text.toString.split(" ", -1)
    val total = words.length
    val nShingles =
      if (total - n + 1 >= 1) total - n + 1
      else if (padShort) 1
      else 0
    val out = new Array[Long](nShingles)
    var outLen = 0
    val seen = if (distinct) new java.util.HashSet[String]() else null
    var i = 0
    while (i < nShingles) {
      val sb = new java.lang.StringBuilder
      val m = math.min(n, total - i)
      var j = 0
      while (j < m) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val s = sb.toString
      if (seen == null || seen.add(s)) {
        out(outLen) = XXH64.hashUTF8String(UTF8String.fromString(s), 42L)
        outLen += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (outLen == out.length) out else java.util.Arrays.copyOf(out, outLen))
  }
}

/** Plan-friendly large-membership holder: a big set must NOT
  * participate in TreeNode structural equality/hashing — Catalyst
  * hashes and compares expression trees many times per rule batch
  * (canonicalization, subexpression elimination, ExpressionSet), and a
  * scala Set field makes every such call O(|set|). Measured r13:
  * ds_pipeline at sg100 carried a ~1M-hash decontamination set in its
  * tree and spent 40.6 s (vs 1.4 s at sg10, 28x for 10x data — the
  * growth was the SET, not the rows); with this identity-hashed holder
  * the same query runs in seconds. Membership probes are a binary
  * search over a sorted primitive array — no boxing in the codegen hot
  * loop either. Identity equality means two semantically identical
  * predicates built from different holder instances won't dedupe in
  * subexpression elimination — a planning pessimization at worst,
  * never a correctness issue; callers build the holder once per
  * operator call.
  */
final class LongMembership private (private val sorted: Array[Long])
    extends Serializable {
  def contains(x: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, x) >= 0
  def size: Int = sorted.length
  override def toString: String = s"long_membership(n=${sorted.length})"
}
object LongMembership {
  def apply(xs: Set[Long]): LongMembership = {
    val a = xs.toArray
    java.util.Arrays.sort(a)
    new LongMembership(a)
  }
}

/** True when ANY element of the child long-array is in the static set —
  * the [[org.apache.spark.sql.catalyst.expressions.InSet]] idea lifted
  * to array elements. The membership gate of streaming decontamination:
  * the benchmark's shingle-hash set is built ONCE (driver-side, bounded
  * — eval sets are tiny by contract) and each row pays O(|its own
  * array|) hash probes, independent of the benchmark size. The
  * alternatives are all benchmark-linear per row: a broadcast
  * nested-loop anti-join probes every bench row per doc, and
  * `arrays_overlap` against a literal array hashes the SMALLER side
  * but still iterates the bigger (the benchmark) per row.
  */
case class ArrayLongAnyInSet(child: Expression, hset: LongMembership)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "array_any_in_set"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      // Null elements carry no shingle hash — getLong on a null slot would
      // read an undefined value (typically 0L) and spuriously match.
      if (!arr.isNullAt(i) && hset.contains(arr.getLong(i))) return true
      i += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("set", hset,
      classOf[LongMembership].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = false;
         |for (int i = 0; i < $c.numElements(); i++) {
         |  if (!$c.isNullAt(i) && $setRef.contains($c.getLong(i))) {
         |    ${ev.value} = true; break;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayLongAnyInSet =
    copy(child = newChild)
}

/** Counting twin of [[ArrayLongAnyInSet]]: how many elements of a
  * long-array column are members of the static set. Same cost model
  * (one bounded driver-side set, O(|row's array|) probes per row,
  * benchmark-size-independent); the count — not just the boolean —
  * is what contamination SCORING needs (`n_overlap / n_grams`), so a
  * whole-corpus fraction report stays a zero-exchange projection.
  */
case class ArrayLongCountInSet(child: Expression, hset: LongMembership)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_count_in_set"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = 0
    var i = 0
    while (i < arr.numElements()) {
      // Null elements carry no shingle hash (ArrayLongAnyInSet note).
      if (!arr.isNullAt(i) && hset.contains(arr.getLong(i))) n += 1
      i += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("set", hset,
      classOf[LongMembership].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = 0;
         |for (int i = 0; i < $c.numElements(); i++) {
         |  if (!$c.isNullAt(i) && $setRef.contains($c.getLong(i))) {
         |    ${ev.value}++;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayLongCountInSet =
    copy(child = newChild)
}

/** Shannon entropy in bits per character over the document's codepoint
  * histogram — the standard gibberish/degenerate-repetition signal of
  * quality filtering (natural prose ~3.5-4.5 bits; "aaaa…" is 0;
  * uniform noise approaches log2(alphabet)). One row-local pass:
  * `H = log2(n) - (Σ cᵢ·log2(cᵢ))/n` with the Σ in ascending-codepoint
  * order, so the value is deterministic; an engine summing in another
  * order can differ in the last ulp, which is why queries emit it
  * r6-rounded like every float aggregate. Empty text yields 0.0.
  */
case class CharEntropy(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.CharEntropy.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  private val InvLn2 = 1.0 / math.log(2.0)

  def compute(text: UTF8String): Double = {
    val s = text.toString
    if (s.isEmpty) return 0.0
    // TreeMap: the c·log2(c) sum runs in ascending codepoint order —
    // a defined accumulation order, not hash-map iteration luck
    val counts = new java.util.TreeMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val slot = counts.computeIfAbsent(cp, _ => new Array[Long](1))
      slot(0) += 1
      n += 1
      i += Character.charCount(cp)
    }
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0).toDouble
      acc += c * (math.log(c) * InvLn2)
    }
    math.log(n.toDouble) * InvLn2 - acc / n
  }
}

/** Row-local DSIR score: the sum over a document's word bigrams of a
  * per-BUCKET log-likelihood-ratio table, with buckets assigned by the
  * md5-based feature hash the batch operator uses
  * (`int(md5(gram)[0:4]) mod table.length` — the first four digest
  * bytes big-endian, exactly the integer the batch side's
  * `conv(substring(md5(gram), 1, 8), 16, 10)` parses). This is the
  * STREAMING admission-gate form of [[graft.mix.Mix.dsirWeights]]: the
  * (bounded) ratio table is fit offline in batch and embedded here, so
  * scoring a stream row is pure row-local compute — no join, no state.
  *
  * Parity contract with the batch operator: buckets absent from the
  * table contribute 0 (the batch scoring join is inner — a gram whose
  * bucket the fit corpus never produced contributes nothing), and the
  * sum runs in document order (the batch per-doc sum sees grams in the
  * same order; float-sum order is the only engine-defined part, the
  * text_lm_score caveat). Tokenization is `split(text, " ", -1)` —
  * Spark's split semantics, trailing empties kept. Fewer than 2 tokens
  * (no features) or null text yields NULL, not 0 — an unscorable doc
  * is the caller's policy decision, never a silent neutral score.
  *
  * `table` is a Seq so case-class equality is structural (plan
  * canonicalization, the [[NearestCentroidIds]] note).
  */
case class HashedBigramBucketScore(child: Expression, table: Seq[Double])
  extends UnaryExpression with ExpectsInputTypes {

  require(table.nonEmpty, "ratio table must be non-empty")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "hashed_bigram_bucket_score"

  @transient private lazy val tableArr: Array[Double] = table.toArray

  /** Null (boxed) when the doc has no bigram features. */
  def score(text: UTF8String): java.lang.Double = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) null
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = tableArr.length
      var sum = 0.0
      var i = 0
      while (i < toks.length - 1) {
        md.reset()
        val d = md.digest((toks(i) + " " + toks(i + 1))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        sum += tableArr((v % n).toInt)
        i += 1
      }
      java.lang.Double.valueOf(sum)
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dsirScore", this,
      classOf[HashedBigramBucketScore].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Double r = $self.score($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = r.doubleValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedBigramBucketScore =
    copy(child = newChild)
}

/** PORTABLE 64-bit SimHash (Charikar 2002 as Manku et al. WWW'07
  * implement it): one random-sign hash per DISTINCT token, signs drawn
  * from the token's own md5 digest — no seeded hyperplane table, so the
  * fingerprint is reproducible on ANY engine with md5 (this is what
  * lets `dedup_hamming`/`ann_hamming` carry full DuckDB oracles where
  * the xxhash64-seeded [[SimHashBands]] variant is rows-only).
  *
  * Semantics: tokens are `split(text, " ", -1)` deduplicated (set
  * semantics — the Manku feature set); token bit j comes from the
  * first 8 md5 digest bytes read as two big-endian 32-bit words (hex
  * chars 1–8 → bits 0–31, chars 9–16 → bits 32–63 — exactly the
  * integers `CAST('0x'||substr(md5(t),1,8) AS BIGINT)` parses, the
  * ds_dsir hashing convention); fingerprint bit j is 1 iff the ±1
  * contributions sum positive (a tie is 0). Integer sums are
  * order-independent, so the result is deterministic under any
  * partitioning. Output: array<long> [lo, hi], each in [0, 2^32) —
  * two non-negative words instead of one packed int64, so neither
  * engine ever faces sign-extension on shift/xor arithmetic.
  */
case class PortableSimHash64(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    PortableSimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.PortableSimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash64 =
    copy(child = newChild)
}

object PortableSimHash64 {
  def compute(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      if (seen.add(words(i))) {
        md.reset()
        val d = md.digest(
          words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val wlo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val whi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((wlo >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          if (((whi >>> j) & 1L) == 1L) counts(32 + j) += 1
          else counts(32 + j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) lo |= (1L << j)
      if (counts(32 + j) > 0) hi |= (1L << j)
      j += 1
    }
    new GenericArrayData(Array(lo, hi))
  }
}

object TextExpressions {
  /** Row-local MinHash signature column (array<long> of length k). */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int): Column =
    ExpressionUtils.column(MinHashSignature(
      ExpressionUtils.expression(text), shingleN, numHashes))

  /** Row-local shingle-hash array (see [[ShingleHashes]]). */
  def shingleHashes(text: Column, shingleN: Int, distinct: Boolean = true,
                    padShort: Boolean = true): Column =
    ExpressionUtils.column(ShingleHashes(
      ExpressionUtils.expression(text), shingleN, distinct, padShort))

  /** True when any element of a long-array column is in the static set
    * (see [[ArrayLongAnyInSet]]).
    */
  def arrayAnyInSet(arr: Column, set: Set[Long]): Column =
    ExpressionUtils.column(ArrayLongAnyInSet(
      ExpressionUtils.expression(arr), LongMembership(set)))

  /** Count of a long-array column's elements that are in the static
    * set (see [[ArrayLongCountInSet]]).
    */
  def arrayCountInSet(arr: Column, set: Set[Long]): Column =
    ExpressionUtils.column(ArrayLongCountInSet(
      ExpressionUtils.expression(arr), LongMembership(set)))

  /** Row-local Shannon entropy (bits/char) of a string column. */
  def charEntropy(text: Column): Column =
    ExpressionUtils.column(CharEntropy(ExpressionUtils.expression(text)))

  /** Row-local portable md5-sign 64-bit SimHash (array<long> [lo, hi],
    * see [[PortableSimHash64]]).
    */
  def portableSimhash64(text: Column): Column =
    ExpressionUtils.column(PortableSimHash64(ExpressionUtils.expression(text)))

  /** Row-local 64-bit SimHash as 4 x 16-bit bands (array<long>[4]). */
  def simhashBands(text: Column): Column =
    ExpressionUtils.column(SimHashBands(ExpressionUtils.expression(text)))

  /** Row-local min-of-md5 shingle fingerprint (hex string). */
  def minShingleMd5(text: Column, shingleN: Int): Column =
    ExpressionUtils.column(MinShingleMd5(
      ExpressionUtils.expression(text), shingleN))

  /** Row-local DSIR score against an embedded bucket→log-ratio table
    * (see [[HashedBigramBucketScore]]).
    */
  def hashedBigramBucketScore(text: Column, table: Seq[Double]): Column =
    ExpressionUtils.column(HashedBigramBucketScore(
      ExpressionUtils.expression(text), table))
}
