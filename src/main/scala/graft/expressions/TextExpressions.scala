package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the text hot path (the §4.3 tier the
  * vector expressions already occupy).
  *
  * The BPE-ish token estimate was formulated as
  * `aggregate(transform(split(text,' '), t -> ceil(length(t)/4)), 0, +)`
  * — correct, but higher-order functions interpret their lambda per
  * element AND materialize the split array per row. On the packing /
  * token-accounting path that is the per-row cost at 100 TB. This
  * expression computes the identical value in ONE pass over the
  * string's UTF-8 bytes inside whole-stage codegen: split on the space
  * byte (0x20 — never a UTF-8 continuation byte, so byte-splitting is
  * code-point-safe), count code points per run (continuation bytes
  * skipped, matching `length()`'s numChars), add ceil(run/charsPerTok).
  * Empty runs (consecutive/leading/trailing spaces) contribute
  * ceil(0/4) = 0 exactly as the HOF form's empty split tokens do.
  * Equality with the HOF formulation is property-tested in
  * TextExpressionsSpec — swapping it into an oracle-matched query must
  * not change a single value. */
case class BpeTokenCount(child: Expression, charsPerTok: Int)
    extends UnaryExpression {

  require(charsPerTok > 0, s"charsPerTok must be positive, got $charsPerTok")

  // input must be STRING; the call site (TextExpressions) casts
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextKernels.bpeCount(input.asInstanceOf[UTF8String], charsPerTok)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.bpeCount($c, $charsPerTok);")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** One-pass winnowing fingerprint: the `keep` smallest xxhash64 values
  * (seed 42, Spark's `xxhash64` function) over all `window`-token
  * sliding windows of the space-tokenized text, sorted ascending —
  * value-identical to the declarative
  * `slice(array_sort(transform(sequence(...), i ->
  * xxhash64(concat_ws(" ", slice(toks, i+1, window))))), 1, keep)`
  * form, which interprets its lambda per window and allocates the
  * token array, every window string, AND the full hash array per row
  * (measured 25 s/pass over 1.3M docs at sf0.1×20 — the heaviest
  * per-row cost in the text family).
  *
  * The one-pass trick: tokens come from single-space splits, so
  * re-joining tokens i..i+w-1 with single spaces reproduces the EXACT
  * original byte slice [start(i), end(i+w-1)] — consecutive spaces'
  * empty tokens included. Each window hash is therefore a direct
  * XXH64 over a slice of the input's own bytes: zero string
  * allocation, and the top-k minimum is kept in a `keep`-element
  * insertion buffer instead of sorting all windows. Short docs
  * (≤ window tokens) hash the whole text once, matching the
  * `greatest(n - w, 0)`-clamped declarative form. */
case class WinnowFingerprint(child: Expression, window: Int, keep: Int)
    extends UnaryExpression {

  require(window > 0 && keep > 0,
    s"window and keep must be positive, got window=$window keep=$keep")

  // input must be STRING; the call site (TextExpressions) casts
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnow(input.asInstanceOf[UTF8String], window, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.winnow($c, $window, $keep);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprint =
    copy(child = newChild)
}

/** One-pass DISTINCT n-gram shingle hashes: xxhash64 (seed 42) of every
  * n-token sliding window of the space-tokenized text, duplicates
  * removed, ascending — the set the whole dedup family (near-dup
  * Jaccard, MinHash, decontamination) consumes after an explode.
  * Value-identical (as a set) to
  * `array_distinct(transform(sequence(...), i ->
  * xxhash64(concat_ws(" ", slice(toks, i+1, n)))))` via the same
  * byte-slice identity as [[WinnowFingerprint]]; differs from winnow's
  * edge rule on purpose: a doc with fewer than `n` tokens contributes
  * NO shingles (matching the declarative guard), not a clamped whole-
  * doc window. Output order is ascending rather than first-occurrence
  * — every consumer explodes into set-semantics aggregations/joins, so
  * order is immaterial (asserted by the sorted-set equality property).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, s"shingle size must be positive, got $n")

  // input must be STRING; the call site (TextExpressions) casts
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.shingleHashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** One-pass DISTINCT n-gram shingle md5 DIGESTS — the cross-engine
  * 60-bit digest set behind the md5-graded dedup family
  * (`conv(substring(md5(shingle), 1, 15), 16, 10)` in both engines'
  * declarative forms). Value-identical as a SET to
  * `rowDigest(explode(array_distinct(transform(..., concat_ws(" ",
  * slice(toks, i+1, n))))))` ([[ShingleHashes]]'s byte-slice identity:
  * single-space tokenization means every shingle string IS a slice of
  * the text's own bytes, so md5 runs over the window bytes directly —
  * zero token arrays, zero window strings, one digest per window
  * instead of string-build + md5 + hex + conv), and digest-then-
  * distinct equals distinct-then-digest exactly AS A SET; as a bag
  * the declarative form (distinct strings, then digest) could emit
  * duplicate h rows under a 60-bit collision where this form dedups
  * them — astronomically negligible, and every consumer is
  * set-semantic, but stated for the record (ADVICE r17).
  * Docs with fewer than `n` tokens contribute NO digests,
  * matching the declarative guard (r17 optimization round: the
  * md5-family first-touch build was ~6.9 s of the bench's warm-up
  * absorber at sf0.1, dominated by this materialization). */
case class ShingleDigests(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, s"shingle size must be positive, got $n")

  // input must be STRING; the call site (TextExpressions) casts
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingleDigests(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.shingleDigests($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleDigests =
    copy(child = newChild)
}

/** The 16 (or `permA.length`) affine MinHash permutation minima over a
  * per-doc digest ARRAY — `array(min((A_p·(h mod P) + B_p) mod P))` in
  * one pass, replacing the explode + groupBy(doc_id) + 16-min
  * aggregate of the md5-dedup family (r18, VERDICT r17 #5: the digest
  * set is already per-doc collocated inside the ShingleDigests array,
  * so reducing it through a row explode and a hash shuffle back to
  * doc_id was a full corpus shuffle for nothing). Minima are
  * duplicate-invariant and order-free, so the value is bit-identical
  * to the aggregate form (law-tested in MinHashAggSpec). Empty arrays
  * yield all-MaxValue minima — callers must filter `size(hs) > 0`
  * first, exactly where the groupBy form emitted no row. */
case class MinHashAffineSigs(child: Expression, permA: Seq[Long],
                             permB: Seq[Long], permP: Long)
    extends UnaryExpression {

  require(permA.nonEmpty && permA.length == permB.length,
    s"need matching non-empty permutation factors, got ${permA.length}/${permB.length}")

  private lazy val aArr = permA.toArray
  private lazy val bArr = permB.toArray

  // input must be ARRAY<BIGINT> (the ShingleDigests output)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.minHashAffine(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      aArr, bArr, permP)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("permA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("permB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.minHashAffine($c, $aRef, $bRef, ${permP}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashAffineSigs =
    copy(child = newChild)
}

/** 64-bit SimHash bit-vote signature over a per-doc digest ARRAY — one
  * pass, replacing the explode + groupBy(doc_id) + SimHashAgg pass of
  * the md5 SimHash family (r18, VERDICT r17 #6): each digest votes ±1
  * per bit and bit i of the result is set when the vote sum is
  * positive — the identical integer math as [[SimHashAgg]]'s
  * update/eval (vote sums are order-free), law-tested against it. */
case class SimHashFromSet(child: Expression) extends UnaryExpression {

  // input must be ARRAY<BIGINT> (the ShingleDigests output)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextKernels.simHashSet(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.simHashSet($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashFromSet =
    copy(child = newChild)
}

/** The numPerm xxhash64-rehash MinHash minima over a per-doc shingle
  * hash ARRAY (the [[ShingleHashes]] output) — the production-family
  * twin of [[MinHashAffineSigs]] (r18): per permutation p the value is
  * `min(xxhash64(lit(p), h0))`, replicated exactly as
  * `hash(h0, LongType, hash(p, IntegerType, 42))` — the same
  * left-to-right fold [[MinHashAgg]] replicates (law-tested there).
  * One kernel projection replaces the shingle-row explode + groupBy +
  * numPerm-min aggregate: minima are duplicate/order-invariant, and
  * the corpus-shingle shuffle disappears. Empty arrays yield
  * all-MaxValue minima — callers filter `size(hs) > 0` first, exactly
  * where the groupBy form emitted no row. */
case class MinHashXxSigs(child: Expression, numPerm: Int)
    extends UnaryExpression {

  require(numPerm > 0, s"numPerm must be positive, got $numPerm")

  private lazy val seeds: Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    Array.tabulate(numPerm)(p => XxHash64Function.hash(p, IntegerType, 42L))
  }

  // input must be ARRAY<BIGINT> (the ShingleHashes output)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextKernels.minHashXx(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("permSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.minHashXx($c, $sRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashXxSigs =
    copy(child = newChild)
}

/** 64-bit SimHash of a text's TOKEN OCCURRENCES in one pass over the
  * string bytes (r18): tokenize on the space byte (split(" ")
  * semantics — empty tokens for consecutive/leading/trailing spaces
  * vote too), xxhash64 each token's byte slice (seed 42, the
  * [[ShingleHashes]] byte-slice identity), ±1 bit votes, bit set where
  * the vote sum is positive. Value-identical to
  * `explode(split(text,' ')) → xxhash64(tok) → groupBy(doc_id) →
  * SimHashAgg` (vote sums are order-free integers; law-tested in
  * SimHashAggSpec) — but the per-TOKEN-OCCURRENCE row stream and its
  * hash shuffle back to doc_id disappear entirely. NULL text
  * null-propagates; callers filter it exactly where the explode
  * dropped the doc. */
case class SimHashText(child: Expression) extends UnaryExpression {

  // input must be STRING; the call site (TextExpressions) casts
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextKernels.simHashText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.simHashText($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

/** Per-doc bigram duplication stats in one pass over the text bytes
  * (r18): `(n_2grams, nd_2grams, top_cnt)` = (number of adjacent
  * token pairs, distinct pairs, max multiplicity of any pair) —
  * the q_text_repetition statistics, which previously ran TWO
  * corpus-bigram aggregations (groupBy(doc_id, g) then
  * groupBy(doc_id)). Pairs are compared by xxhash64 of the bigram's
  * byte slice (the [[ShingleHashes]] identity: single-space
  * tokenization makes `concat_ws(" ", slice(toks, i+1, 2))` a slice
  * of the text's own bytes), the exact keying the GRADED q_dedup_near
  * already uses on its shingle self-join — a within-doc 64-bit
  * collision (~1e-14 per 1k-bigram doc) is the accepted negligible
  * trade. NULL for NULL text or < 2 tokens, matching the old
  * empty-sequence explode's doc drop — callers filter isNotNull. */
case class BigramStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("nd", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("top", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    TextKernels.bigramStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow)
        graft.expressions.TextKernels.bigramStats($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): BigramStats =
    copy(child = newChild)
}

/** One-pass unsigned-byte sum over a BINARY column — the "decode →
  * pool" reduction of the multimodal frame path. Value-identical to the
  * declarative `aggregate(transform(sequence(0, length(b)-1), i ->
  * conv(substr(hex(b), i*2+1, 2), 16, 10)), 0L, +)` form, which
  * re-evaluated `hex(b)` PER BYTE inside the interpreted lambda —
  * O(bytes²) per frame (r17 tried to fix it with a hex alias, but
  * CollapseProject re-inlined the single-use alias straight back into
  * the lambda; a kernel over the binary has no hex round-trip for the
  * optimizer to duplicate). Sum of ≤2³¹ bytes of ≤255 fits a long with
  * no overflow caveat. NULL for a zero-length BINARY, as the
  * declarative form returned (its `sequence(0, -1)` degenerates to
  * [0, -1] over an empty hex string). */
case class BinaryByteSum(child: Expression) extends UnaryExpression {

  // input must be BINARY; the call site (TextExpressions) casts
  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    if (b.length == 0) null else TextKernels.byteSum(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.length == 0) ${ev.isNull} = true;
      else ${ev.value} = graft.expressions.TextKernels.byteSum($c);""")

  override protected def withNewChildInternal(newChild: Expression): BinaryByteSum =
    copy(child = newChild)
}

/** Static kernel the generated code calls (kept outside the case-class
  * companion so the codegen call target is an unambiguous static). */
object TextKernels {

  // MD5 instances are not thread-safe and not free to construct; one
  // per task thread, reset implicitly by digest()
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def bpeCount(s: UTF8String, charsPerTok: Int): Long = {
    val b = s.getBytes
    var total = 0L
    var run = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == 0x20) {
        if (run > 0) { total += (run + charsPerTok - 1) / charsPerTok; run = 0 }
      } else if ((c & 0xC0) != 0x80) run += 1 // leading byte = one code point
      i += 1
    }
    if (run > 0) total += (run + charsPerTok - 1) / charsPerTok
    total
  }

  /** See [[WinnowFingerprint]]. Returns the min-`keep` window hashes
    * sorted ascending (fewer if the doc has fewer windows). */
  def winnow(s: UTF8String, window: Int,
             keep: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val b = s.getBytes
    // token boundaries on the space byte: split(" ") semantics — empty
    // tokens for consecutive/leading/trailing spaces all count
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val nWin = math.max(nTok - window, 0) + 1
    // bounded insertion buffer: ascending, duplicates kept (the
    // declarative sort-then-slice form keeps them too)
    val top = new Array[Long](math.min(keep, nWin))
    var filled = 0
    var w = 0
    while (w < nWin) {
      val st = starts(w)
      val en = ends(math.min(w + window - 1, nTok - 1))
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + st, en - st, 42L)
      if (filled < top.length) {
        var j = filled - 1
        filled += 1
        while (j >= 0 && top(j) > h) { top(j + 1) = top(j); j -= 1 }
        top(j + 1) = h
      } else if (h < top(filled - 1)) {
        var j = filled - 2
        while (j >= 0 && top(j) > h) { top(j + 1) = top(j); j -= 1 }
        top(j + 1) = h
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(top, filled))
  }

  /** See [[ShingleHashes]]: distinct window hashes, sorted ascending. */
  def shingleHashes(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val b = s.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val nWin = nTok - n + 1
    val hs = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      val st = starts(w)
      val en = ends(w + n - 1)
      hs(w) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + st, en - st, 42L)
      w += 1
    }
    // sort + in-place unique (no per-doc hash-set allocation churn)
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < nWin) {
      if (hs(i) != hs(out - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, out))
  }

  /** See [[ShingleDigests]]: distinct 60-bit md5 window digests,
    * ascending. The fold `(first 8 digest bytes, big-endian) >>> 4`
    * equals `conv(substring(md5hex, 1, 15), 16, 10)`: hex char i is
    * nibble i of the digest, so the first 15 hex chars are bytes 0–6
    * plus byte 7's high nibble. Always non-negative (< 2⁶⁰). */
  def shingleDigests(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val b = s.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val md = md5Local.get()
    val nWin = nTok - n + 1
    val hs = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      val st = starts(w)
      md.update(b, st, ends(w + n - 1) - st)
      val d = md.digest() // resets the instance
      hs(w) = (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4
      w += 1
    }
    java.util.Arrays.sort(hs)
    var out = 1
    i = 1
    while (i < nWin) {
      if (hs(i) != hs(out - 1)) { hs(out) = hs(i); out += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(hs, out))
  }

  /** See [[MinHashAffineSigs]]: per-permutation minima of
    * (A·(h mod P) + B) mod P over the digest array. h ∈ [0, 2⁶⁰) and
    * A, B < 2³¹ keep every product below 2⁶² — exact in a long. */
  def minHashAffine(hs: org.apache.spark.sql.catalyst.util.ArrayData,
                    a: Array[Long], b: Array[Long],
                    p: Long): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = Array.fill(a.length)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val hp = hs.getLong(i) % p
      var j = 0
      while (j < a.length) {
        val v = (a(j) * hp + b(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[SimHashFromSet]]: ±1 bit votes over the digest array, bit
    * set where the vote sum is positive — [[SimHashAgg]]'s math. */
  def simHashSet(hs: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val votes = new Array[Long](64)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) { votes(j) += ((h >>> j) & 1L) * 2 - 1; j += 1 }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** See [[MinHashXxSigs]]: per-permutation minima of the xxhash64
    * long-rehash over the shingle hash array. */
  def minHashXx(hs: org.apache.spark.sql.catalyst.util.ArrayData,
                seeds: Array[Long]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val out = Array.fill(seeds.length)(Long.MaxValue)
    val n = hs.numElements()
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var p = 0
      while (p < seeds.length) {
        val v = XxHash64Function.hash(h, LongType, seeds(p))
        if (v < out(p)) out(p) = v
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[SimHashText]]: tokenize on 0x20 (empty tokens included),
    * xxhash64 each token's byte slice, ±1 votes per bit. */
  def simHashText(s: UTF8String): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val b = s.getBytes
    val votes = new Array[Long](64)
    var st = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + st, i - st, 42L)
        var j = 0
        while (j < 64) { votes(j) += ((h >>> j) & 1L) * 2 - 1; j += 1 }
        st = i + 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** See [[BigramStats]]: (occurrences, distinct, max multiplicity)
    * of the adjacent-pair windows; null for < 2 tokens. */
  def bigramStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val b = s.getBytes
    var nTok = 1
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < 2) return null
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = b.length
    val nWin = nTok - 1
    val hs = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      val st = starts(w)
      hs(w) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + st,
        ends(w + 1) - st, 42L)
      w += 1
    }
    java.util.Arrays.sort(hs)
    var nd = 1L
    var top = 1L
    var run = 1L
    i = 1
    while (i < nWin) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > top) top = run }
      else { nd += 1; run = 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWin.toLong, nd, top))
  }

  /** See [[BinaryByteSum]]: Σ unsigned byte values, one pass. */
  def byteSum(b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < b.length) { s += (b(i) & 0xFF); i += 1 }
    s
  }
}

object TextExpressions {
  import org.apache.spark.sql.catalyst.expressions.Cast

  /** Column API: one-pass codegen'd BPE-ish token count. */
  def bpe_token_count(text: Column, charsPerTok: Int = 4): Column =
    GraftBridge.column(BpeTokenCount(
      Cast(GraftBridge.expression(text), StringType), charsPerTok))

  /** Column API: one-pass winnowing fingerprint (min-`keep` xxhash64
    * over `window`-token sliding windows, ascending). */
  def winnow_fingerprint(text: Column, window: Int = 8, keep: Int = 4): Column =
    GraftBridge.column(WinnowFingerprint(
      Cast(GraftBridge.expression(text), StringType), window, keep))

  /** Column API: one-pass distinct n-gram shingle hash set (ascending). */
  def shingle_hashes(text: Column, n: Int = 3): Column =
    GraftBridge.column(ShingleHashes(
      Cast(GraftBridge.expression(text), StringType), n))

  /** Column API: one-pass distinct n-gram 60-bit md5 digest set
    * (ascending) — the cross-engine md5-family key. */
  def shingle_digests(text: Column, n: Int = 3): Column =
    GraftBridge.column(ShingleDigests(
      Cast(GraftBridge.expression(text), StringType), n))

  /** Column API: one-pass unsigned-byte sum over a BINARY column. */
  def binary_byte_sum(bytes: Column): Column =
    GraftBridge.column(BinaryByteSum(
      Cast(GraftBridge.expression(bytes), org.apache.spark.sql.types.BinaryType)))

  /** Column API: affine MinHash permutation minima over a per-doc
    * digest array (see [[MinHashAffineSigs]]; caller filters empties). */
  def minhash_affine_sigs(hs: Column, permA: Seq[Long], permB: Seq[Long],
                          permP: Long): Column =
    GraftBridge.column(MinHashAffineSigs(
      GraftBridge.expression(hs), permA, permB, permP))

  /** Column API: SimHash bit-vote signature over a per-doc digest
    * array (see [[SimHashFromSet]]). */
  def simhash_from_set(hs: Column): Column =
    GraftBridge.column(SimHashFromSet(GraftBridge.expression(hs)))

  /** Column API: xxhash64-rehash MinHash minima over a shingle hash
    * array (see [[MinHashXxSigs]]; caller filters empties). */
  def minhash_xx_sigs(hs: Column, numPerm: Int): Column =
    GraftBridge.column(MinHashXxSigs(GraftBridge.expression(hs), numPerm))

  /** Column API: one-pass SimHash over a text's token occurrences
    * (see [[SimHashText]]; caller filters NULL text). */
  def simhash_text(text: Column): Column =
    GraftBridge.column(SimHashText(
      Cast(GraftBridge.expression(text), StringType)))

  /** Column API: per-doc bigram duplication stats struct (n, nd, top)
    * (see [[BigramStats]]; NULL for NULL text / < 2 tokens). */
  def bigram_stats(text: Column): Column =
    GraftBridge.column(BigramStats(
      Cast(GraftBridge.expression(text), StringType)))

  /** SQL registration: `SELECT bpe_token_count(text)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_token_count",
      exprs => BpeTokenCount(Cast(exprs.head, StringType), 4), "built-in")
}
