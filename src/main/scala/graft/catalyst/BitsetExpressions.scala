package graft.catalyst

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels the generated code calls (same pattern as
  * [[SeqIdCodec]]): single pass over primitive array data, no boxing, no
  * per-element lambda dispatch. These back the dense-bitset strategy of the
  * set-similarity operators (graft.ops.Pipeline): when a dictionary is
  * small enough that every document's id set fits a fixed number of 64-bit
  * words, set intersection is a popcount fold — orders of magnitude cheaper
  * than `array_intersect`, and (unlike a higher-order-function chain) it
  * stays inside whole-stage codegen.
  */
object Bitsets {

  /** Bitset (array of `nWords` 64-bit words) from 1-based dictionary ids.
    * Ids outside [1, nWords*64] and null elements are ignored rather than
    * faulting. */
  def fromIds(ids: ArrayData, nWords: Int): ArrayData = {
    val words = new Array[Long](nWords)
    val n = ids.numElements()
    var i = 0
    while (i < n) {
      if (!ids.isNullAt(i)) {
        val id = ids.getInt(i) - 1
        val w = id >>> 6
        if (id >= 0 && w < nWords) words(w) |= (1L << (id & 63))
      }
      i += 1
    }
    new GenericArrayData(words)
  }

  /** |A ∩ B| of two bitsets (popcount of the pairwise AND). */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += java.lang.Long.bitCount(a.getLong(i) & b.getLong(i))
      i += 1
    }
    acc
  }

  /** Containment verify with EARLY EXIT: returns the exact shared =
    * |A ∩ B| when it meets the τ=0.8 threshold (shared ≥ ⌈0.8·n1⌉,
    * integer form (4·n1+4) div 5), and −1 as soon as the threshold is
    * provably unreachable. The bound is exact: n1 is A's TOTAL popcount,
    * so after scanning words 0..i the remaining intersection is at most
    * n1 − seenA (A-bits not yet seen), and shared_final ≤ shared_so_far
    * + (n1 − seenA). A non-matching pair exits within a few words (the
    * all-pairs dense path rejects ≫99% of pairs); a qualifying pair
    * pays the full scan and returns its exact count — so the filter
    * `containmentShared(...) ≥ 0` computes the identical relation to
    * `intersectCount(...)·5 ≥ n1·4`, cheaper. Allocation-free, one
    * pass, stays in whole-stage codegen. */
  def containmentShared(a: ArrayData, b: ArrayData, n1: Long): Long = {
    val n = math.min(a.numElements(), b.numElements())
    val need = (4L * n1 + 4L) / 5L
    var shared = 0L
    var seenA = 0L
    var i = 0
    while (i < n) {
      val aw = a.getLong(i)
      shared += java.lang.Long.bitCount(aw & b.getLong(i))
      seenA += java.lang.Long.bitCount(aw)
      if (shared + (n1 - seenA) < need) return -1L
      i += 1
    }
    if (shared >= need) shared else -1L
  }

  /** |A ∩ B| of two SORTED long arrays by two-pointer merge — no hash
    * set, no allocation, one pass. The node-iterator triangle kernel:
    * adjacency lists are sorted once at build time, then every edge's
    * common-neighbor count is a linear merge. Inputs must be sorted
    * ascending and null-free (duplicates count per matching position,
    * so distinct inputs give true set cardinality). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { acc += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }

  /** Σ min(tf₁, tf₂) over the shared keys of two SORTED packed
    * (key, frequency) arrays — the multiset-intersection mass of
    * weighted Jaccard, by the same two-pointer merge as
    * [[sortedIntersectCount]]. Each element packs a dictionary id and
    * its term frequency as `id << 20 | tf` (tf < 2^20 — a per-document
    * term count), so ascending array order is ascending id order and
    * the whole verify is one allocation-free pass of
    * O(|terms₁| + |terms₂|). Inputs must be sorted ascending, null-free,
    * and carry at most one element per id. */
  def packedTfMinOverlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      val kx = x >>> 20
      val ky = y >>> 20
      if (kx == ky) {
        val tx = x & 0xFFFFFL
        val ty = y & 0xFFFFFL
        acc += (if (tx < ty) tx else ty)
        i += 1; j += 1
      }
      else if (kx < ky) i += 1
      else j += 1
    }
    acc
  }

  /** Bitset directly from token STRINGS via a hashed dictionary — the
    * zero-shuffle encode path: when the dictionary is small enough to sit
    * in the plan as a map literal, per-doc sets become bitsets in a single
    * projection (no explode, no dictionary join, no re-aggregation).
    * Tokens absent from the dictionary are ignored. */
  def fromTokens(tokens: ArrayData, dict: java.util.HashMap[UTF8String, Integer],
                 nWords: Int): ArrayData = {
    val words = new Array[Long](nWords)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val id = dict.get(tokens.getUTF8String(i))
      if (id != null) {
        val bit = id.intValue() - 1
        val w = bit >>> 6
        if (bit >= 0 && w < nWords) words(w) |= (1L << (bit & 63))
      }
      i += 1
    }
    new GenericArrayData(words)
  }

  /** Hash a map-literal's MapData (string → int) once per operator. */
  def hashDict(md: MapData): java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](md.numElements() * 2)
    val keys = md.keyArray()
    val vals = md.valueArray()
    var i = 0
    while (i < md.numElements()) {
      m.put(keys.getUTF8String(i).clone(), Integer.valueOf(vals.getInt(i)))
      i += 1
    }
    m
  }

  /** Consecutive word bigrams of a space-separated text — semantically
    * `transform(sequence(0, size(toks)-2), i -> concat(toks[i+1], ' ',
    * toks[i+2]))` with `toks = split(text, ' ')` (Java regex split,
    * limit -1), evaluated in one pass. */
  def wordBigrams(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - 1)
    var i = 0
    while (i < toks.length - 1) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct character n-gram shingles, in first-occurrence order —
    * semantically `array_distinct(transform(sequence(1, greatest(len-n+1,
    * 1)), i -> substr(text, i, n)))` (1-indexed SQL substring over code
    * points, so a text shorter than n yields the single truncated gram),
    * evaluated in one pass instead of an interpreted lambda per position.
    */
  def ngramShingles(text: UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    val count = math.max(len - n + 1, 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    var i = 1
    while (i <= count) {
      seen.add(text.substringSQL(i, n))
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    seen.toArray(out)
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

/** `bitset_from_ids(ids, nWords)`: dense bitset (array<bigint> of `nWords`
  * words) from an array of 1-based dictionary ids. `nWords` must be a
  * foldable non-negative integer. */
case class BitsetFromIdsExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int>, int), got ${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(ids: Any, nWords: Any): Any =
    Bitsets.fromIds(ids.asInstanceOf[ArrayData], nWords.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ids, n) =>
      s"${ev.value} = graft.catalyst.Bitsets.fromIds($ids, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitsetFromIdsExpr =
    copy(left = newLeft, right = newRight)
}

/** `bitset_intersect_count(a, b)`: BIGINT popcount of the pairwise AND of
  * two equal-width bitsets. */
case class BitsetIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two non-null array<bigint> bitsets, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Bitsets.intersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.catalyst.Bitsets.intersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitsetIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** `bitset_containment_shared(a, b, n1)`: early-exit containment verify
  * (see [[Bitsets.containmentShared]]) — exact shared count when
  * ≥ ⌈0.8·n1⌉, −1 otherwise. */
case class BitsetContainmentSharedExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with Kernels.Named {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, array<bigint>, bigint), got " +
          s"${f.simpleString}, ${s.simpleString}, ${t.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any, n1: Any): Any =
    Bitsets.containmentShared(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], n1.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, n1) =>
      s"${ev.value} = graft.catalyst.Bitsets.containmentShared($a, $b, $n1);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): BitsetContainmentSharedExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `sorted_intersect_count(a, b)`: BIGINT |A ∩ B| of two SORTED
  * array<bigint> by two-pointer merge (see
  * [[Bitsets.sortedIntersectCount]]). */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two non-null array<bigint> sorted arrays, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Bitsets.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.catalyst.Bitsets.sortedIntersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** `packed_tf_min_overlap(a, b)`: Σ min(tf) over shared ids of two sorted
  * `id << 20 | tf`-packed arrays (see [[Bitsets.packedTfMinOverlap]]). */
case class PackedTfMinOverlapExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two non-null array<bigint> sorted packed arrays, got " +
        s"${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Bitsets.packedTfMinOverlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.catalyst.Bitsets.packedTfMinOverlap($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedTfMinOverlapExpr =
    copy(left = newLeft, right = newRight)
}

/** `word_bigrams(text)`: consecutive space-separated word bigrams (see
  * [[Bitsets.wordBigrams]]). */
case class WordBigramsExpr(child: Expression)
    extends UnaryExpression with Kernels.Named {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.simpleString}")
  }

  override protected def nullSafeEval(text: Any): Any =
    Bitsets.wordBigrams(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text =>
      s"${ev.value} = graft.catalyst.Bitsets.wordBigrams($text);")

  override protected def withNewChildInternal(newChild: Expression): WordBigramsExpr =
    copy(child = newChild)
}

/** `bitset_from_tokens(tokens, dictMap, nWords)`: dense bitset from an
  * array of token strings and a foldable string→int dictionary map literal
  * (1-based ids). The dictionary is hashed once per operator instance, so
  * the per-row cost is one hash lookup per token — the zero-shuffle
  * dictionary-encode used by the small-dictionary dedup strategies. */
case class BitsetFromTokensExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Kernels.Named {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, IntegerType, _), IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, FOLDABLE map<string,int>, FOLDABLE int), " +
          s"got ${f.simpleString}, ${s.simpleString}, ${t.simpleString}" +
          (if (!second.foldable || !third.foldable) " (non-foldable dictionary/width)" else ""))
    }

  @transient private lazy val dict: java.util.HashMap[UTF8String, Integer] =
    Bitsets.hashDict(second.eval(null).asInstanceOf[MapData])
  @transient private lazy val nWords: Int = third.eval(null).asInstanceOf[Int]

  override protected def nullSafeEval(tokens: Any, dictMap: Any, n: Any): Any =
    Bitsets.fromTokens(tokens.asInstanceOf[ArrayData], dict, nWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("bitsetDict", dict, classOf[java.util.HashMap[_, _]].getName)
    nullSafeCodeGen(ctx, ev, (tokens, _, _) =>
      s"${ev.value} = graft.catalyst.Bitsets.fromTokens($tokens, $dictRef, $nWords);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BitsetFromTokensExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `ngram_shingles(text, n)`: distinct character n-gram array of a string
  * (see [[Bitsets.ngramShingles]] for the exact SQL-equivalent semantics). */
case class NgramShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression with Kernels.Named {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, int), got ${l.simpleString} and ${r.simpleString}")
  }

  override protected def nullSafeEval(text: Any, n: Any): Any =
    Bitsets.ngramShingles(text.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (text, n) =>
      s"${ev.value} = graft.catalyst.Bitsets.ngramShingles($text, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramShinglesExpr =
    copy(left = newLeft, right = newRight)
}
