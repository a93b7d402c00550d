package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Signature expressions for dedup/similarity at scale (SURVEY.md §2
  * C2/C3/C7).
  *
  * The composed `transform`/`aggregate` formulations are semantically
  * fine but evaluate one lambda invocation per array element per
  * hash/bit/plane — tens of millions of interpreted expression nodes per
  * partition. Each of these expressions runs the same math as ONE tight
  * JIT-compiled loop per row (measured ~20x on the sf0.1 bench), and
  * participates in whole-stage codegen: `doGenCode` emits a direct
  * static call (or, for cosine, the loop itself) instead of the boxed
  * per-row `eval` a CodegenFallback would pay.
  */
object SignatureExpressions {

  @inline private def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** splitmix64 finalizer — cheap high-quality mix for derived hashes. */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------- eval kernels
  // Public so generated code can call them through the object's static
  // forwarders (graft.functions.SignatureExpressions.xxxEval(...)).

  def shingleHashesEval(input: ArrayData, w: Int): ArrayData = {
    val arr = input
    val n = arr.numElements()
    val th = new Array[Long](n)
    var j = 0
    while (j < n) { th(j) = hashUtf8(arr.getUTF8String(j), 42L); j += 1 }
    val nSh = math.max(n - w + 1, 1)
    val out = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = 0xcbf29ce484222325L
      var t = i
      val end = math.min(i + w, n)
      while (t < end) { h = (h ^ th(t)) * 0x100000001b3L; t += 1 }
      out(i) = mix(h)
      i += 1
    }
    // distinct (sets for jaccard); sort-dedupe in place
    java.util.Arrays.sort(out)
    var m = 0
    i = 0
    while (i < nSh) {
      if (i == 0 || out(i) != out(i - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** All consecutive 3-codepoint windows of `s`, in order — value-equal
    * to `transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))`
    * but ONE linear pass: Substring re-walks the string from byte 0 to
    * find codepoint i on every call, which made trigram extraction
    * O(n²) per document (the measured top hotspot of the LM-score
    * gates). Fewer than 3 codepoints → empty array. */
  def charTrigramsEval(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var n = 0
    var i = 0
    while (i < nb) {
      offs(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(n) = nb
    if (n < 3) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 2)
    var k = 0
    while (k < n - 2) {
      out(k) = UTF8String.fromBytes(bytes, offs(k), offs(k + 3) - offs(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash coefficient families for `k` hashes (computed once per
    * plan — the expression passes them in as reference objects, never
    * re-derived per row). */
  def minhashCoeffs(k: Int): (Array[Long], Array[Long]) =
    (Array.tabulate(k)(i => mix(2L * i + 1) | 1L),
      Array.tabulate(k)(i => mix(0x5eed0000L + i)))

  def minHashesEval(as: Array[Long], bs: Array[Long], input: ArrayData): ArrayData = {
    val k = as.length
    val n = input.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < n) {
      val h = input.getLong(e)
      var i = 0
      while (i < k) {
        val hi = as(i) * h + bs(i)
        if (hi < mins(i)) mins(i) = hi
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  /** HALF_UP decimal rounding of a double, bit-identical to Spark's
    * `round(x, scale)` for DoubleType (which evaluates
    * `BigDecimal.valueOf(x).setScale(scale, HALF_UP).doubleValue()` —
    * i.e. Double.toString + decimal parse PER ROW, a measured leaf of
    * every per-pair scored join). Fast path: y = x·10^s decides the
    * rounding whenever it sits more than 4 ulp from the half-integer
    * decision boundary — |y − r·10^s| ≤ ~1.5 ulp(y) where r is the
    * shortest-repr decimal BigDecimal.valueOf parses (|r − x| ≤
    * ulp(x)/2, 10^s exact for s ≤ 22), so a >4-ulp margin proves both
    * round the same way, and n/10^s (IEEE correctly-rounded division
    * by the exact power) equals BigDecimal(n, s).doubleValue(). Cases
    * within the margin take the original BigDecimal path. */
  def roundHalfUpEval(d: Double, scale: Int, pow: Double): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    val y = d * pow
    val a = math.abs(y)
    if (a < 2.251799813685248e15) { // 2^51: a + 0.5 and na stay exact
      val na = Math.floor(a + 0.5)
      val eps = 4.0 * Math.ulp(a)
      if (a - (na - 0.5) > eps && (na + 0.5) - a > eps) {
        if (na == 0.0) return 0.0 // BigDecimal has no -0: -eps rounds to +0.0
        val n = if (y < 0) -na else na
        return n / pow
      }
    }
    java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** LSH band signatures in one pass: element b = xxhash64 (seed 42,
    * Spark's XxHash64 on a string) of the comma-joined decimal rendering
    * of minhash band b's r values — value-equal to
    * `xxhash64(concat_ws(",", transform(slice(mh, b*r+1, r), cast to
    * string)))`, whose interpreted nested ArrayTransform + per-element
    * Cast + ConcatWs allocations were a measured leaf of the minhash
    * banding path. A band reaching past the end of `mh` joins only the
    * existing elements (slice semantics). */
  def bandSignaturesEval(input: ArrayData, bands: Int, r: Int): ArrayData = {
    val n = input.numElements()
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(r * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var j = b * r
      val end = math.min(j + r, n)
      while (j < end) {
        if (j > b * r) sb.append(',')
        sb.append(input.getLong(j))
        j += 1
      }
      val u = UTF8String.fromString(sb.toString)
      out(b) = hashUtf8(u, 42L)
      b += 1
    }
    new GenericArrayData(out)
  }

  def simHash64Eval(input: ArrayData): Long = {
    val n = input.numElements()
    val counts = new Array[Int](64)
    var e = 0
    while (e < n) {
      val h = hashUtf8(input.getUTF8String(e), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      e += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Portable 48-bit SimHash kernel: token hash = first 6 md5 bytes
    * big-endian, which is EXACTLY the integer an engine gets from
    * parsing the first 12 hex chars of md5's lowercase-hex form — the
    * dedup_simhash oracle rebuilds the same signatures in SQL, so this
    * loop must stay bit-identical to that formulation. */
  def simHashPortable48Eval(input: ArrayData): Long = {
    val md = md5Local.get()
    val n = input.numElements()
    val counts = new Array[Int](48)
    var e = 0
    while (e < n) {
      md.reset()
      val digest = md.digest(input.getUTF8String(e).getBytes)
      var h = 0L
      var i = 0
      while (i < 6) { h = (h << 8) | (digest(i) & 0xFFL); i += 1 }
      var b = 0
      while (b < 48) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      e += 1
    }
    var sig = 0L
    var b = 0
    while (b < 48) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def hyperplaneBucketEval(input: ArrayData, nPlanes: Int): Long = {
    val n = input.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      var j = 0
      while (j < n) {
        val w = (mix(p.toLong * 0x9e3779b9L + j).toDouble / Long.MaxValue.toDouble) / 2.0
        proj += input.getDouble(j) * w
        j += 1
      }
      if (proj > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** All `nTables` table buckets in one pass: table t's bucket uses
    * plane indices [t*nPlanes, (t+1)*nPlanes) of the same deterministic
    * plane family, so table 0 with offset 0 reproduces
    * [[hyperplaneBucketEval]] exactly. Multi-table LSH is the standard
    * recall lever for cosine buckets: a pair colliding in ANY of the L
    * short tables becomes a candidate, P[candidate] =
    * 1 − (1 − (1 − θ/π)^m)^L instead of the single-table (1 − θ/π)^m. */
  def hyperplaneBucketsEval(input: ArrayData, nPlanes: Int,
      nTables: Int): ArrayData = {
    val n = input.numElements()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val plane = t * nPlanes + p
        var proj = 0.0
        var j = 0
        while (j < n) {
          val w = (mix(plane.toLong * 0x9e3779b9L + j).toDouble / Long.MaxValue.toDouble) / 2.0
          proj += input.getDouble(j) * w
          j += 1
        }
        if (proj > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  // ------------------------------------------------------ expressions

  /** `shingle_hashes(array<string>, w)` → array<long>: distinct 64-bit
    * hashes of the w-token rolling shingles, in one pass — the string
    * shingles are never materialized (hashing the window of token
    * hashes is equivalent up to 2^-64 collisions). */
  case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      shingleHashesEval(input.asInstanceOf[ArrayData], w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.shingleHashesEval($c, $w)")
    override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  }

  /** `minhashes(array<long>, k)` → array<long>: k min-hashes in one
    * pass over pre-hashed elements; the k hash families are affine
    * transforms h_i = A_i * h + B_i (odd multipliers). */
  case class MinHashes(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    @transient private lazy val cs = minhashCoeffs(k)
    override def nullSafeEval(input: Any): Any =
      minHashesEval(cs._1, cs._2, input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("mhAs", cs._1, "long[]")
      val bsRef = ctx.addReferenceObj("mhBs", cs._2, "long[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.minHashesEval($asRef, $bsRef, $c)")
    }
    override protected def withNewChildInternal(c: Expression): MinHashes = copy(child = c)
  }

  /** `char_trigrams(string)` → array<string>: every consecutive
    * 3-codepoint substring, one linear pass (see [[charTrigramsEval]]). */
  case class CharTrigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      charTrigramsEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.charTrigramsEval($c)")
    override protected def withNewChildInternal(c: Expression): CharTrigrams =
      copy(child = c)
  }

  /** `round_half_up(double, scale)` → double: Spark `round(x, scale)`
    * for DoubleType, bit-identically (see [[roundHalfUpEval]]), without
    * the per-row Double.toString + decimal parse on the fast path. A
    * non-double child fails analysis (DATATYPE_MISMATCH) instead of
    * throwing a ClassCastException per row. */
  case class RoundHalfUp(child: Expression, scale: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(scale >= 0 && scale <= 15, s"scale $scale out of range")
    override def inputTypes = Seq(DoubleType)
    override def dataType: DataType = DoubleType
    private val pow: Double = math.pow(10, scale)
    override def nullSafeEval(input: Any): Any =
      java.lang.Double.valueOf(
        roundHalfUpEval(input.asInstanceOf[Double], scale, pow))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.roundHalfUpEval($c, $scale, ${pow}D)")
    override protected def withNewChildInternal(c: Expression): RoundHalfUp =
      copy(child = c)
  }

  /** `band_signatures(array<long>, bands, r)` → array<long>: the LSH
    * band hashes in one pass (see [[bandSignaturesEval]]). A child that
    * is not `array<long>`, or `bands`/`r` below 1, fails analysis
    * (DATATYPE_MISMATCH). */
  case class BandSignatures(child: Expression, bands: Int, r: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(ArrayType(LongType))
    override def checkInputDataTypes(): TypeCheckResult =
      Seq("bands" -> bands, "r" -> r).find(_._2 <= 0) match {
        case Some((name, v)) => TypeCheckResult.DataTypeMismatch(
          "VALUE_OUT_OF_RANGE", Map("exprName" -> s"`$name`",
            "valueRange" -> s"[1, ${Int.MaxValue}]", "currentValue" -> v.toString))
        case None => super.checkInputDataTypes()
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      bandSignaturesEval(input.asInstanceOf[ArrayData], bands, r)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.bandSignaturesEval($c, $bands, $r)")
    override protected def withNewChildInternal(c: Expression): BandSignatures =
      copy(child = c)
  }

  /** `simhash64(array<string>)` → long: 64-bit SimHash in one pass. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simHash64Eval(input.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.simHash64Eval($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  }

  /** `simhash_portable48(array<string>)` → long: engine-portable 48-bit
    * SimHash (md5-derived token hashes) in one pass — see
    * [[simHashPortable48Eval]]. */
  case class SimHashPortable48(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(simHashPortable48Eval(input.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.simHashPortable48Eval($c)")
    override protected def withNewChildInternal(c: Expression): SimHashPortable48 =
      copy(child = c)
  }

  /** `hyperplane_bucket(array<double>, nPlanes)` → long: sign bits of
    * projections onto deterministic pseudo-random hyperplanes; weight
    * (p, j) = splitmix64(p, j) mapped to [-0.5, 0.5). */
  case class HyperplaneBucket(child: Expression, nPlanes: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(hyperplaneBucketEval(input.asInstanceOf[ArrayData], nPlanes))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.hyperplaneBucketEval($c, $nPlanes)")
    override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
      copy(child = c)
  }

  /** `hyperplane_buckets(array<double>, nPlanes, nTables)` →
    * array<long>: per-table sign buckets from disjoint plane ranges of
    * the same deterministic family (see [[hyperplaneBucketsEval]]). */
  case class HyperplaneBuckets(child: Expression, nPlanes: Int, nTables: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      hyperplaneBucketsEval(input.asInstanceOf[ArrayData], nPlanes, nTables)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.hyperplaneBucketsEval($c, $nPlanes, $nTables)")
    override protected def withNewChildInternal(c: Expression): HyperplaneBuckets =
      copy(child = c)
  }

  /** `cosine_sim(array<double>, array<double>)` → double: one-pass
    * cosine with the exact semantics of the composed
    * `aggregate(zip_with(a,b,*),0,+) / greatest(norm*norm, 1e-12)`
    * formulation — same left-fold accumulation order (bit-identical
    * doubles, the sim_topk oracle depends on it), null on length
    * mismatch or any null element (zip_with padding/null-propagation
    * semantics) — without materializing three intermediate arrays.
    * Codegen emits the loop inline inside the whole-stage function. */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    // can yield null even for non-null inputs (length mismatch)
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (b.numElements() != n) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        val x = a.getDouble(i); val y = b.getDouble(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      java.lang.Double.valueOf(dot / math.max(math.sqrt(na) * math.sqrt(nb), 1e-12))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val ok = ctx.freshName("ok")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |  boolean $ok = true;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $ok = false; break; }
           |    double xv = $a.getDouble($i);
           |    double yv = $b.getDouble($i);
           |    $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
           |  }
           |  if (!$ok) {
           |    ${ev.isNull} = true;
           |  } else {
           |    ${ev.value} =
           |      $dot / Math.max(Math.sqrt($na) * Math.sqrt($nb), 1e-12);
           |  }
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  def nfcNormalizeEval(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))

  def nfcCasefoldEval(s: UTF8String): UTF8String =
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT))

  /** `nfc_normalize(string)` → string: Unicode NFC normalization (the
    * JDK implements the same Unicode standard as any other engine's
    * nfc function, so results are engine-portable by definition). */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      nfcNormalizeEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.nfcNormalizeEval($c)")
    override protected def withNewChildInternal(c: Expression): NfcNormalize =
      copy(child = c)
  }

  /** `nfc_casefold(string)` → string: NFC + Locale.ROOT lowercase in
    * one pass. Spark's `lower()` routes non-ASCII strings through the
    * JVM DEFAULT locale (the Turkish-I trap: 'I' → 'ı' under tr_TR);
    * Locale.ROOT pins the Unicode default case mapping so results match
    * other engines regardless of JVM locale. */
  case class NfcCasefold(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      nfcCasefoldEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.nfcCasefoldEval($c)")
    override protected def withNewChildInternal(c: Expression): NfcCasefold =
      copy(child = c)
  }

  /** Any-element Bloom membership over a pre-hashed array — the corpus
    * side of Bloom-gated decontamination (C29): one filter probe per
    * shingle hash, short-circuiting on the first hit. */
  def bloomAnyEval(bf: org.apache.spark.util.sketch.BloomFilter,
      arr: ArrayData): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) return true
      i += 1
    }
    false
  }

  // ---------------------------------------------------- PQ kernels

  /** L2-normalized copy of a double-array column value (zero vectors
    * stay zero). PQ operates on normalized vectors so squared-L2 ADC
    * ranking coincides with cosine ranking (‖a−b‖² = 2 − 2·cosθ). */
  private def l2normalized(v: ArrayData): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); out(i) = x; s += x * x; i += 1 }
    if (s > 0) {
      val inv = 1.0 / math.sqrt(s)
      i = 0
      while (i < n) { out(i) *= inv; i += 1 }
    }
    out
  }

  /** Residual in the normalized space: `l2normalized(v) − cent`, where
    * `cent` is a unit-norm centroid. NOT re-normalized — residual-PQ
    * semantics require the raw offset (Jégou et al. 2011 §IV). */
  private def residualOf(v: ArrayData, cent: ArrayData): Array[Double] = {
    val x = l2normalized(v)
    var i = 0
    while (i < x.length) { x(i) -= cent.getDouble(i); i += 1 }
    x
  }

  /** PQ encode: nearest sub-centroid per subspace (squared L2, ties to
    * the smallest code). `cb` is the flattened (m × ks × dsub) codebook. */
  def pqEncodeEval(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      v: ArrayData): ArrayData =
    pqEncodeRaw(cb, m, ks, dsub, l2normalized(v))

  /** Residual PQ encode: codes for `l2normalized(v) − cent` against a
    * residual-trained codebook. */
  def pqEncodeResEval(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      v: ArrayData, cent: ArrayData): ArrayData =
    pqEncodeRaw(cb, m, ks, dsub, residualOf(v, cent))

  private def pqEncodeRaw(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      x: Array[Double]): ArrayData = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ks) {
        val base = (s * ks + c) * dsub
        // running bound: terms are >= 0, so once the partial sum
        // reaches bestD the codeword can never win strict-< — the
        // abandoned candidate's selection outcome is bit-identical
        // (same addition order while it runs)
        var d = 0.0
        var j = 0
        while (j < dsub && d < bestD) {
          val diff = x(s * dsub + j) - cb(base + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    ArrayData.toArrayData(codes)
  }

  /** Per-query ADC lookup table: squared L2 from each of the query's
    * subvectors to every sub-centroid, flattened (m × ks). */
  def pqTableEval(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      q: ArrayData): ArrayData =
    pqTableRaw(cb, m, ks, dsub, l2normalized(q))

  /** Residual ADC table: distances from `l2normalized(q) − cent` (cent
    * = the PROBED list's unit centroid) to every residual sub-centroid
    * — one table per (query, probed list), the residual-PQ cost. */
  def pqTableResEval(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      q: ArrayData, cent: ArrayData): ArrayData =
    pqTableRaw(cb, m, ks, dsub, residualOf(q, cent))

  private def pqTableRaw(cb: Array[Double], m: Int, ks: Int, dsub: Int,
      x: Array[Double]): ArrayData = {
    val t = new Array[Double](m * ks)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ks) {
        val base = (s * ks + c) * dsub
        var d = 0.0
        var j = 0
        while (j < dsub) {
          val diff = x(s * dsub + j) - cb(base + j)
          d += diff * diff
          j += 1
        }
        t(s * ks + c) = d
        c += 1
      }
      s += 1
    }
    ArrayData.toArrayData(t)
  }

  /** ADC distance: sum of the table entries the codes select — m array
    * lookups per (query, code) pair, never a vector op. */
  def pqAdcEval(table: ArrayData, codes: ArrayData, ks: Int): Double = {
    val m = codes.numElements()
    var sum = 0.0
    var s = 0
    while (s < m) {
      sum += table.getDouble(s * ks + codes.getInt(s))
      s += 1
    }
    sum
  }

  /** `pq_encode(array<double>)` → array<int>: m sub-codes against the
    * embedded codebook (rides the expression like [[BloomAnyContains]]'s
    * filter — broadcast-sized constant surfaced via addReferenceObj). */
  case class PqEncode(child: Expression, cb: Array[Double], m: Int, ks: Int)
      extends UnaryExpression {
    private def dsub: Int = cb.length / (m * ks)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      pqEncodeEval(cb, m, ks, dsub, input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", cb, "double[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.pqEncodeEval($ref, $m, $ks, $dsub, $c)")
    }
    override protected def withNewChildInternal(c: Expression): PqEncode =
      copy(child = c)
  }

  /** `pq_adc_table(array<double>)` → array<double>: the query-side ADC
    * lookup table (m × ks squared distances). */
  case class PqAdcTable(child: Expression, cb: Array[Double], m: Int, ks: Int)
      extends UnaryExpression {
    private def dsub: Int = cb.length / (m * ks)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      pqTableEval(cb, m, ks, dsub, input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", cb, "double[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.pqTableEval($ref, $m, $ks, $dsub, $c)")
    }
    override protected def withNewChildInternal(c: Expression): PqAdcTable =
      copy(child = c)
  }

  /** `pq_adc(table, codes)` → double: asymmetric distance. */
  case class PqAdc(left: Expression, right: Expression, ks: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(t: Any, c: Any): Any =
      java.lang.Double.valueOf(pqAdcEval(
        t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], ks))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, c) =>
        s"graft.functions.SignatureExpressions.pqAdcEval($t, $c, $ks)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
      copy(left = l, right = r)
  }

  /** `pq_encode_res(vec, cent)` → array<int>: residual-PQ codes —
    * encode `l2normalized(vec) − cent` against a residual-trained
    * codebook (cent = the row's assigned unit centroid). */
  case class PqEncodeRes(left: Expression, right: Expression,
      cb: Array[Double], m: Int, ks: Int) extends BinaryExpression {
    private def dsub: Int = cb.length / (m * ks)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any, c: Any): Any =
      pqEncodeResEval(cb, m, ks, dsub,
        v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", cb, "double[]")
      defineCodeGen(ctx, ev, (v, c) =>
        s"graft.functions.SignatureExpressions.pqEncodeResEval($ref, $m, $ks, $dsub, $v, $c)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqEncodeRes =
      copy(left = l, right = r)
  }

  /** `pq_adc_table_res(vec, cent)` → array<double>: residual ADC table
    * for one probed list (cent = that list's unit centroid). */
  case class PqAdcTableRes(left: Expression, right: Expression,
      cb: Array[Double], m: Int, ks: Int) extends BinaryExpression {
    private def dsub: Int = cb.length / (m * ks)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any, c: Any): Any =
      pqTableResEval(cb, m, ks, dsub,
        v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqcb", cb, "double[]")
      defineCodeGen(ctx, ev, (v, c) =>
        s"graft.functions.SignatureExpressions.pqTableResEval($ref, $m, $ks, $dsub, $v, $c)")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcTableRes =
      copy(left = l, right = r)
  }

  /** Cosines of `v` against every centroid row, in [[CosineSim]]'s
    * exact arithmetic (sequential accumulation, max(denom, 1e-12));
    * `roundTo >= 0` applies Spark Round (HALF_UP via
    * BigDecimal.valueOf) to each — the semanticDedup replay contract. */
  private def cellSims(cents: Array[Array[Double]], roundTo: Int,
      v: ArrayData): Array[Double] = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var nv = 0.0
    var i = 0
    while (i < n) {
      val d = v.getDouble(i); x(i) = d; nv += d * d; i += 1
    }
    val normV = math.sqrt(nv)
    val sims = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dot = 0.0; var nc = 0.0; var t = 0
      while (t < n) { dot += x(t) * c(t); nc += c(t) * c(t); t += 1 }
      var sim = dot / math.max(normV * math.sqrt(nc), 1e-12)
      if (roundTo >= 0)
        sim = java.math.BigDecimal.valueOf(sim)
          .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()
      sims(j) = sim
      j += 1
    }
    sims
  }

  def nearestCellEval(cents: Array[Array[Double]], roundTo: Int,
      v: ArrayData): Long = {
    val sims = cellSims(cents, roundTo, v)
    var best = 0
    var bestS = Double.NegativeInfinity
    var j = 0
    while (j < sims.length) {
      if (sims(j) > bestS) { bestS = sims(j); best = j }
      j += 1
    }
    (best + 1).toLong
  }

  def probeCellsEval(cents: Array[Array[Double]], nprobe: Int,
      v: ArrayData): ArrayData = {
    val sims = cellSims(cents, -1, v)
    val k = sims.length
    val taken = new Array[Boolean](k)
    val out = new Array[Int](math.min(nprobe, k))
    var r = 0
    while (r < out.length) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        // (sim desc, cid asc): strict > keeps the smallest id on ties,
        // matching the literal path's struct(-sim, cid) ascending sort
        if (!taken(j) && (best < 0 ||
            java.lang.Double.compare(sims(j), bestS) > 0)) {
          bestS = sims(j); best = j
        }
        j += 1
      }
      taken(best) = true
      out(r) = best + 1
      r += 1
    }
    ArrayData.toArrayData(out)
  }

  /** `nearest_cell(array<double>)` → long: 1-based argmax-cosine cell
    * id against an embedded centroid matrix — O(k·dim) in a tight
    * loop. The LARGE-k assignment path: the unrolled k-cosine literal
    * projection is faster to plan for small k but generates O(k)
    * codegen, which collapses at the production SemDeDup/IVF cell
    * counts (10^4-10^5). `roundTo` mirrors the literal path's
    * per-cosine rounding when the caller's contract rounds. */
  case class NearestCell(child: Expression, cents: Array[Array[Double]],
      roundTo: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(
        nearestCellEval(cents, roundTo, input.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cells", cents, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.nearestCellEval($ref, $roundTo, $c)")
    }
    override protected def withNewChildInternal(c: Expression): NearestCell =
      copy(child = c)
  }

  /** `probe_cells(array<double>)` → array<int>: the `nprobe` nearest
    * cell ids (1-based), similarity-desc with smallest-id tie-break —
    * the large-k probe-list path. */
  case class ProbeCells(child: Expression, cents: Array[Array[Double]],
      nprobe: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      probeCellsEval(cents, nprobe, input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cells", cents, "double[][]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.probeCellsEval($ref, $nprobe, $c)")
    }
    override protected def withNewChildInternal(c: Expression): ProbeCells =
      copy(child = c)
  }

  /** `bloom_any_contains(array<long>)` → boolean. The Bloom filter
    * rides the expression itself (serialized once with the task binary,
    * surfaced to generated code via `addReferenceObj`) — a broadcast-
    * sized sketch probed inside whole-stage codegen, no UDF, no join. */
  case class BloomAnyContains(child: Expression,
      bloom: org.apache.spark.util.sketch.BloomFilter)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(input: Any): Any =
      java.lang.Boolean.valueOf(bloomAnyEval(bloom, input.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloom", bloom,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.SignatureExpressions.bloomAnyEval($ref, $c)")
    }
    override protected def withNewChildInternal(c: Expression): BloomAnyContains =
      copy(child = c)
  }

  // ------------------------------------------------------- Column API

  def nfc_normalize(s: Column): Column =
    bridge.toColumn(NfcNormalize(bridge.toExpression(s)))

  def nfc_casefold(s: Column): Column =
    bridge.toColumn(NfcCasefold(bridge.toExpression(s)))

  def cosine_sim(a: Column, b: Column): Column =
    bridge.toColumn(CosineSim(bridge.toExpression(a), bridge.toExpression(b)))

  def shingle_hashes(tokens: Column, w: Int): Column =
    bridge.toColumn(ShingleHashes(bridge.toExpression(tokens), w))

  def minhashes(shingleHashes: Column, k: Int): Column =
    bridge.toColumn(MinHashes(bridge.toExpression(shingleHashes), k))

  def char_trigrams(text: Column): Column =
    bridge.toColumn(CharTrigrams(bridge.toExpression(text)))

  def band_signatures(minhashes: Column, bands: Int, r: Int): Column =
    bridge.toColumn(BandSignatures(bridge.toExpression(minhashes), bands, r))

  def round_half_up(x: Column, scale: Int): Column =
    bridge.toColumn(RoundHalfUp(bridge.toExpression(x), scale))

  def simhash64(tokens: Column): Column =
    bridge.toColumn(SimHash64(bridge.toExpression(tokens)))

  def simhash_portable48(tokens: Column): Column =
    bridge.toColumn(SimHashPortable48(bridge.toExpression(tokens)))

  def hyperplane_bucket(vec: Column, nPlanes: Int): Column =
    bridge.toColumn(HyperplaneBucket(bridge.toExpression(vec), nPlanes))

  def hyperplane_buckets(vec: Column, nPlanes: Int, nTables: Int): Column =
    bridge.toColumn(HyperplaneBuckets(bridge.toExpression(vec), nPlanes, nTables))

  def bloom_any_contains(hashes: Column,
      bf: org.apache.spark.util.sketch.BloomFilter): Column =
    bridge.toColumn(BloomAnyContains(bridge.toExpression(hashes), bf))

  def pq_encode(vec: Column, cb: Array[Double], m: Int, ks: Int): Column =
    bridge.toColumn(PqEncode(bridge.toExpression(vec), cb, m, ks))

  def pq_adc_table(vec: Column, cb: Array[Double], m: Int, ks: Int): Column =
    bridge.toColumn(PqAdcTable(bridge.toExpression(vec), cb, m, ks))

  def pq_adc(table: Column, codes: Column, ks: Int): Column =
    bridge.toColumn(PqAdc(bridge.toExpression(table), bridge.toExpression(codes), ks))

  def pq_encode_res(vec: Column, cent: Column, cb: Array[Double],
      m: Int, ks: Int): Column =
    bridge.toColumn(PqEncodeRes(bridge.toExpression(vec),
      bridge.toExpression(cent), cb, m, ks))

  def nearest_cell(vec: Column, cents: Array[Array[Double]],
      roundTo: Int = -1): Column =
    bridge.toColumn(NearestCell(bridge.toExpression(vec), cents, roundTo))

  def probe_cells(vec: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    bridge.toColumn(ProbeCells(bridge.toExpression(vec), cents, nprobe))

  def pq_adc_table_res(vec: Column, cent: Column, cb: Array[Double],
      m: Int, ks: Int): Column =
    bridge.toColumn(PqAdcTableRes(bridge.toExpression(vec),
      bridge.toExpression(cent), cb, m, ks))
}
