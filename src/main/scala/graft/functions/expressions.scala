package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Cosine similarity of two float/double array columns as a native Catalyst
  * expression: one fused loop computing dot product and both norms, fully
  * code-generated — the hot inner loop of brute-force ANN search. The
  * higher-order-function formulation (`aggregate(zip_with(...))`) allocates
  * an intermediate array per row-pair; at 100 TB of candidate pairs that
  * allocation IS the workload, hence the custom expression (SURVEY §4 /
  * builder preference order (b)).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
    right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _),
          ArrayType(FloatType | DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs two float/double arrays, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    val (dl, dr) = (elemIsDouble(left), elemIsDouble(right))
    while (i < n) {
      val xi = if (dl) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (dr) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val d = math.sqrt(nx) * math.sqrt(ny)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // all locals via freshName: two instances of this expression can land
      // in the same codegen scope (non-nullable inputs skip the wrapping
      // null-check block) and fixed names would fail janino compilation
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val dd = ctx.freshName("dd")
      val getL = if (elemIsDouble(left)) s"$a.getDouble($i)"
                 else s"(double) $a.getFloat($i)"
      val getR = if (elemIsDouble(right)) s"$b.getDouble($i)"
                 else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getL; double $yi = $getR;
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $dd = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($dd == 0.0) ? 0.0 : $dot / $dd;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Plain dot product of two float/double arrays — the bucketing pass of
  * hyperplane LSH needs only the SIGN of the projection, so computing the
  * full cosine (both norms + two sqrts per plane per row) would triple the
  * arithmetic on the hottest scan. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemIsDouble(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType,
    right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _),
          ArrayType(FloatType | DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"dot_product needs two float/double arrays, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    val (dl, dr) = (elemIsDouble(left), elemIsDouble(right))
    while (i < n) {
      val xi = if (dl) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (dr) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xi * yi; i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val getL = if (elemIsDouble(left)) s"$a.getDouble($i)"
                 else s"(double) $a.getFloat($i)"
      val getR = if (elemIsDouble(right)) s"$b.getDouble($i)"
                 else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) { $dot += $getL * $getR; }
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of an array of token hashes (long): per bit position,
  * majority vote of the tokens' hash bits. One code-generated loop instead of
  * 64 higher-order aggregates.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 needs array<bigint>, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val h = arr.getLong(i)
      var k = 0
      while (k < 64) {
        if (((h >>> k) & 1L) == 1L) cnt(k) += 1 else cnt(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) { if (cnt(k) > 0) out |= (1L << k); k += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cnt = ctx.freshName("cnt"); val i = ctx.freshName("i")
      val h = ctx.freshName("h"); val k = ctx.freshName("k")
      val out = ctx.freshName("out")
      s"""
       |int[] $cnt = new int[64];
       |for (int $i = 0; $i < $a.numElements(); $i++) {
       |  long $h = $a.getLong($i);
       |  for (int $k = 0; $k < 64; $k++) {
       |    if ((($h >>> $k) & 1L) == 1L) $cnt[$k]++; else $cnt[$k]--;
       |  }
       |}
       |long $out = 0L;
       |for (int $k = 0; $k < 64; $k++) if ($cnt[$k] > 0) $out |= (1L << $k);
       |${ev.value} = $out;
     """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** MinHash signature over an array of TOKEN hashes: shingles of `shingleK`
  * consecutive token hashes are combined with a boost-style hash fold and
  * fed through `numHashes` murmur-finalizer remixes, all in ONE fused loop —
  * no intermediate shingle strings or arrays (the naive
  * `transform(slice+array_join)` formulation allocates a string per shingle
  * and re-traverses the array per hash position; at corpus scale that
  * allocation dominates the whole dedup job). Fewer than `shingleK` tokens →
  * empty signature.
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleK: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && shingleK >= 1,
    s"need numHashes >= 1 and shingleK >= 1, got $numHashes/$shingleK")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // containsNull must be false: getLong on a null slot silently reads 0
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash needs array<bigint> without null elements, got ${t.sql}")
  }

  // deterministic per-position seeds; remix = murmur3 64-bit finalizer
  private lazy val seeds: Array[Long] = {
    val rnd = new java.util.SplittableRandom(42L)
    Array.fill(numHashes)(rnd.nextLong())
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < shingleK)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Long])
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i <= n - shingleK) {
      var sh = 0L
      var j = 0
      while (j < shingleK) {
        sh ^= arr.getLong(i + j) + 0x9e3779b97f4a7c15L + (sh << 6) + (sh >>> 2)
        j += 1
      }
      var k = 0
      while (k < numHashes) {
        var x = sh ^ seeds(k)
        x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL
        x ^= (x >>> 33); x *= 0xc4ceb9fe1a85ec53L
        x ^= (x >>> 33)
        if (x < mins(k)) mins(k) = x
        k += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val i = ctx.freshName("i"); val sh = ctx.freshName("sh")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val x = ctx.freshName("x")
      s"""
       |int $n = $a.numElements();
       |long[] $mins;
       |if ($n < $shingleK) {
       |  $mins = new long[0];
       |} else {
       |  $mins = new long[$numHashes];
       |  java.util.Arrays.fill($mins, Long.MAX_VALUE);
       |  for (int $i = 0; $i <= $n - $shingleK; $i++) {
       |    long $sh = 0L;
       |    for (int $j = 0; $j < $shingleK; $j++) {
       |      $sh ^= $a.getLong($i + $j) + 0x9e3779b97f4a7c15L + ($sh << 6)
       |            + ($sh >>> 2);
       |    }
       |    for (int $k = 0; $k < $numHashes; $k++) {
       |      long $x = $sh ^ $seedsRef[$k];
       |      $x ^= ($x >>> 33); $x *= 0xff51afd7ed558ccdL;
       |      $x ^= ($x >>> 33); $x *= 0xc4ceb9fe1a85ec53L;
       |      $x ^= ($x >>> 33);
       |      if ($x < $mins[$k]) $mins[$k] = $x;
       |    }
       |  }
       |}
       |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
       |  .fromPrimitiveArray($mins);
     """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): MinHashSignature =
    copy(child = c)
}

/** All `k`-token shingle hashes of a token-hash array — the string-free
  * form of [[graft.text.TextFunctions.wordShingles]] for joins that only
  * need shingle IDENTITY (decontamination, shingle-level dedup): the
  * slice+array_join formulation materializes a string per shingle, measured
  * 10×+ slower. Same combine as [[MinHashSignature]] plus a murmur3
  * finalizer; two shingles share a hash iff their token-hash windows match
  * (mod ~2⁻⁶⁴ collisions). Fewer than `k` tokens → empty array. */
case class ShingleHashes(child: Expression, shingleK: Int)
    extends UnaryExpression {
  require(shingleK >= 1, s"shingle size must be >= 1, got $shingleK")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // containsNull must be false: getLong on a null slot silently reads 0,
  // so a null element would collide with a token hashing to 0
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes needs array<bigint> without null elements, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < shingleK)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Long])
    val out = new Array[Long](n - shingleK + 1)
    var i = 0
    while (i <= n - shingleK) {
      var sh = 0L
      var j = 0
      while (j < shingleK) {
        sh ^= arr.getLong(i + j) + 0x9e3779b97f4a7c15L + (sh << 6) + (sh >>> 2)
        j += 1
      }
      sh ^= (sh >>> 33); sh *= 0xff51afd7ed558ccdL
      sh ^= (sh >>> 33); sh *= 0xc4ceb9fe1a85ec53L
      sh ^= (sh >>> 33)
      out(i) = sh
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val i = ctx.freshName("i"); val sh = ctx.freshName("sh")
      val j = ctx.freshName("j")
      s"""
       |int $n = $a.numElements();
       |long[] $out;
       |if ($n < $shingleK) {
       |  $out = new long[0];
       |} else {
       |  $out = new long[$n - $shingleK + 1];
       |  for (int $i = 0; $i <= $n - $shingleK; $i++) {
       |    long $sh = 0L;
       |    for (int $j = 0; $j < $shingleK; $j++) {
       |      $sh ^= $a.getLong($i + $j) + 0x9e3779b97f4a7c15L + ($sh << 6)
       |            + ($sh >>> 2);
       |    }
       |    $sh ^= ($sh >>> 33); $sh *= 0xff51afd7ed558ccdL;
       |    $sh ^= ($sh >>> 33); $sh *= 0xc4ceb9fe1a85ec53L;
       |    $sh ^= ($sh >>> 33);
       |    $out[$i] = $sh;
       |  }
       |}
       |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
       |  .fromPrimitiveArray($out);
     """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Order-preserving bit key of a double: `doubleToLongBits` with the
  * classic sign-fold (`bits ^ ((bits >> 63) & 0x7fff…)`) so SIGNED long
  * order equals double order — -Inf < … < -0.0 < 0.0 < … < +Inf, with
  * every distinct double a distinct key. This turns exact quantile
  * selection into integer-range narrowing ([[graft.operators.ExactStats]]):
  * bucketing by high key bits needs no min/max pre-pass and has no
  * float-boundary drift between "counted in bucket b" and "selected next
  * round" — the predicate is an integer range. NaN must be filtered by the
  * caller (its bit pattern would land above +Inf). */
case class DoubleSortKey(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"double_sort_key needs a double, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    DoubleSortKey.keyOf(v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DoubleSortKey.keyOf($c)")

  override protected def withNewChildInternal(c: Expression): DoubleSortKey =
    copy(child = c)
}

object DoubleSortKey {
  def keyOf(v: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(v)
    bits ^ ((bits >> 63) & 0x7fffffffffffffffL)
  }

  /** Inverse of [[keyOf]] (driver-side decode of a fully-narrowed key). */
  def doubleOf(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & 0x7fffffffffffffffL))
}

/** Accent/diacritic stripping as a native codegen'd expression: NFD
  * decomposition, drop combining marks (Unicode category Mn), recompose
  * NFC — `café naïve Zürich` → `cafe naive Zurich`. The canonical text
  * normalization before exact/near dedup (visually-identical strings that
  * differ only in composed vs decomposed accents, or accent presence, are
  * the classic cause of missed duplicates in crawled corpora). Matches
  * DuckDB's `strip_accents` on Latin-script text, which is what lets
  * q_normalize oracle-verify end to end. ASCII rows (the overwhelming
  * majority of an English corpus) take a scan-only fast path — no
  * Normalizer call, no allocation. */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"strip_accents needs a string, got ${t.sql}")
  }

  override def nullSafeEval(s: Any): Any = {
    val u = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    StripAccents.stripUtf8(u)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.StripAccents.stripUtf8($c)")

  override protected def withNewChildInternal(c: Expression): StripAccents =
    copy(child = c)
}

object StripAccents {
  private val Marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  /** Static entry point shared by interpreted eval and generated code. */
  def stripUtf8(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    // pure-ASCII fast path: every UTF-8 byte < 0x80 → nothing to normalize
    // (byte scan, no decode, returns the input buffer untouched)
    val n = u.numBytes()
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((u.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) return u
    val s = u.toString
    import java.text.Normalizer
    val stripped = Normalizer.normalize(
      Marks.matcher(Normalizer.normalize(s, Normalizer.Form.NFD))
        .replaceAll(""),
      Normalizer.Form.NFC)
    org.apache.spark.unsafe.types.UTF8String.fromString(stripped)
  }
}

/** First 60 bits of md5 as a non-negative long — the engine-portable hash
  * (DuckDB: `('0x' || substr(md5(x), 1, 15))::BIGINT`) computed straight
  * from the digest bytes. The composed Spark form
  * (`conv(substring(md5(cast binary), 1, 15), 16, 10) cast long`)
  * allocates a 32-char hex string, a substring, AND a base-16→base-10
  * string parse PER VALUE — on per-token paths (portable simhash, DSIR
  * buckets) those allocations are the workload. One digest call, zero
  * strings. */
case class Md5Hash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_hash60 needs a string or binary, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Md5Hash60.top60(u.getBytes)
    case b: Array[Byte] => Md5Hash60.top60(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => child.dataType match {
      case StringType => s"graft.functions.Md5Hash60.top60($c.getBytes())"
      case _ => s"graft.functions.Md5Hash60.top60($c)"
    })

  override protected def withNewChildInternal(c: Expression): Md5Hash60 =
    copy(child = c)
}

object Md5Hash60 {
  private val digest =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Static entry point shared by interpreted eval and generated code:
    * big-endian long of the first 8 digest bytes, high 60 bits kept —
    * identical to parsing the first 15 hex chars. */
  def top60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}

/** Greedy longest-match subword tokenization of a word array against a
  * fitted piece vocabulary — the WordPiece/BPE INFERENCE algorithm (the
  * step a training-data pipeline runs over every document to count and
  * materialize token ids; fitting is [[graft.text.Subword.fitVocab]]).
  * Per word: repeatedly emit the longest vocabulary piece (≤ `maxLen`
  * codepoints) prefixing the remaining suffix; if no piece matches, the
  * whole word becomes the single piece `[UNK]` (uppercase K — cannot
  * collide with lowercased corpus pieces). Returns a struct
  * (n_words, n_pieces, n_unk, encoded) in ONE pass over the text; the
  * higher-order-function formulation would allocate an array per word per
  * trial length, and a join-based encoder would shuffle the corpus — this
  * runs at scan speed with the bounded vocabulary shipped in the plan.
  * Codepoint-indexed (not UTF-16 chars) so astral-plane symbols count one
  * position, matching SQL engines' character semantics. */
case class SubwordEncode(
    child: Expression, pieces: Seq[String], maxLen: Int)
    extends UnaryExpression {
  require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")

  override def dataType: DataType = SubwordEncode.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"subword_encode needs an array<string> of words, got ${t.sql}")
  }

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](pieces.size * 2)
    pieces.foreach(s.add)
    s
  }

  override def nullSafeEval(v: Any): Any =
    SubwordEncode.encode(v.asInstanceOf[ArrayData], set, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("subwordPieces", set,
      "java.util.HashSet<String>")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SubwordEncode.encode($c, $setRef, $maxLen)")
  }

  override protected def withNewChildInternal(c: Expression): SubwordEncode =
    copy(child = c)
}

object SubwordEncode {
  val Unk = "[UNK]"

  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_pieces", LongType, nullable = false),
    StructField("n_unk", LongType, nullable = false),
    StructField("encoded", StringType, nullable = false)))

  /** Static entry point shared by interpreted eval and generated code.
    * Empty-string entries in the word array are skipped (split of blank
    * text yields them); `encoded` is every emitted piece joined by single
    * spaces across word boundaries. */
  def encode(words: ArrayData, set: java.util.HashSet[String], maxLen: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    var nWords = 0L
    var nPieces = 0L
    var nUnk = 0L
    val sb = new java.lang.StringBuilder
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val u = words.getUTF8String(i)
      if (u != null && u.numBytes() > 0) {
        nWords += 1
        val cps = u.toString.codePoints().toArray()
        val mark = sb.length()
        val before = nPieces
        var pos = 0
        var unk = false
        while (pos < cps.length && !unk) {
          var l = math.min(maxLen, cps.length - pos)
          var hit = 0
          while (l >= 1 && hit == 0) {
            if (set.contains(new String(cps, pos, l))) hit = l else l -= 1
          }
          if (hit == 0) unk = true
          else {
            if (sb.length() > 0) sb.append(' ')
            sb.append(new String(cps, pos, hit))
            nPieces += 1
            pos += hit
          }
        }
        if (unk) {
          sb.setLength(mark)
          nPieces = before + 1
          nUnk += 1
          if (sb.length() > 0) sb.append(' ')
          sb.append(Unk)
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nWords, nPieces, nUnk,
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
  }
}

/** A driver-built key → value table: open addressing with linear probing
  * over two parallel arrays, at most half full. Keys and values are
  * Catalyst-internal values (`UTF8String` for strings, boxed primitives,
  * `Decimal`), compared with `equals` as a join compares them; float
  * keys are stored and probed through [[DictTable.normalize]]. A null
  * key never enters the table, so a probe never matches one. */
final class DictTable private (keys: Array[AnyRef], vals: Array[AnyRef],
    val size: Int) extends Serializable {
  private val mask = keys.length - 1

  /** The value stored under `k` (already normalized), or null on a miss. */
  def get(k: AnyRef): AnyRef = {
    var i = DictTable.spread(k.hashCode) & mask
    while (true) {
      val s = keys(i)
      if (s == null) return null
      if (s.equals(k)) return vals(i)
      i = (i + 1) & mask
    }
    null
  }
}

object DictTable {
  /** The key types whose Catalyst values have join equality as `equals`
    * (after [[normalize]]): atomic types other than binary and collated
    * strings. */
  def supports(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType | _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** Join key equality for floats: -0.0 is 0.0 and every NaN is one NaN
    * (boxed `equals` compares canonical bits). */
  def normalize(k: Any): AnyRef = k match {
    case d: Double => doubleKey(d)
    case f: Float => floatKey(f)
    case o => o.asInstanceOf[AnyRef]
  }
  def doubleKey(d: Double): AnyRef =
    java.lang.Double.valueOf(if (d == 0.0) 0.0 else d)
  def floatKey(f: Float): AnyRef =
    java.lang.Float.valueOf(if (f == 0.0f) 0.0f else f)

  private[functions] def spread(h: Int): Int = h ^ (h >>> 16)

  /** A table of `entries` given as external (Scala) values of `keyType` and
    * `valueType`; entries with a null key are dropped, and of duplicate
    * keys the first wins. */
  def apply(entries: Iterable[(Any, Any)], keyType: DataType,
      valueType: DataType): DictTable = {
    require(supports(keyType), s"dictionary key type ${keyType.sql}")
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
    val toValue = CatalystTypeConverters.createToCatalystConverter(valueType)
    val n = entries.size
    val cap = Integer.highestOneBit(math.max(2, 2 * n - 1)) << 1
    val keys = new Array[AnyRef](cap)
    val vals = new Array[AnyRef](cap)
    var size = 0
    entries.foreach { case (k, v) =>
      if (k != null) {
        val key = normalize(toKey(k))
        var i = spread(key.hashCode) & (cap - 1)
        while (keys(i) != null && !keys(i).equals(key)) i = (i + 1) & (cap - 1)
        if (keys(i) == null) {
          keys(i) = key
          vals(i) = toValue(v).asInstanceOf[AnyRef]
          size += 1
        }
      }
    }
    new DictTable(keys, vals, size)
  }
}

/** `table[key]` for a driver-built [[DictTable]] shipped as a `Broadcast`:
  * the value of `dataType` stored under the key, null on a miss or a null
  * key. The generated code reaches the broadcast through the plan's
  * references and unwraps it once per task (a mutable-state initializer),
  * so tasks carry the broadcast handle, never the table, and each row is
  * one hash probe — no per-row scan, join or key `toString`. The
  * interpreted path unwraps it once per deserialized expression. The
  * plan prints the entry count, never the entries. */
case class DictLookup(key: Expression,
    table: org.apache.spark.broadcast.Broadcast[DictTable],
    dataType: DataType) extends UnaryExpression {
  override def child: Expression = key
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (DictTable.supports(key.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dict_lookup cannot key on ${key.dataType.sql}")

  @transient private lazy val local: DictTable = table.value

  override def nullSafeEval(k: Any): Any = local.get(DictTable.normalize(k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val bc = ctx.addReferenceObj("dictBroadcast", table,
      "org.apache.spark.broadcast.Broadcast")
    val tbl = ctx.addMutableState("graft.functions.DictTable", "dictTable",
      v => s"$v = (graft.functions.DictTable) $bc.value();",
      forceInline = true)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, k => {
      val probe = key.dataType match {
        case DoubleType => s"graft.functions.DictTable.doubleKey($k)"
        case FloatType => s"graft.functions.DictTable.floatKey($k)"
        case t if CodeGenerator.isPrimitiveType(t) =>
          s"${CodeGenerator.boxedType(t)}.valueOf($k)"
        case _ => k
      }
      val hit = ctx.freshName("hit")
      val value =
        if (CodeGenerator.isPrimitiveType(dataType))
          s"(($boxed) $hit).${CodeGenerator.javaType(dataType)}Value()"
        else s"($boxed) $hit"
      s"""
       |Object $hit = $tbl.get($probe);
       |if ($hit == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = $value;
       |}
     """.stripMargin
    })
  }

  override def toString: String = s"dict_lookup($key, ${local.size} entries)"
  override def sql: String = s"dict_lookup(${key.sql}, ${local.size} entries)"

  override protected def withNewChildInternal(c: Expression): DictLookup =
    copy(key = c)
}

/** Column-level entry points for graft's custom expressions. */
object GraftFunctions {
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def simhash64(tokenHashes: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokenHashes)))

  def minhash_signature(
      tokenHashes: Column, numHashes: Int, shingleK: Int = 1): Column =
    Bridge.column(MinHashSignature(Bridge.expression(tokenHashes), numHashes,
      shingleK))

  def shingle_hashes(tokenHashes: Column, shingleK: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokenHashes), shingleK))

  def strip_accents(s: Column): Column =
    Bridge.column(StripAccents(Bridge.expression(s)))

  def subword_encode(words: Column, pieces: Seq[String], maxLen: Int): Column =
    Bridge.column(SubwordEncode(Bridge.expression(words), pieces, maxLen))

  def double_sort_key(d: Column): Column =
    Bridge.column(DoubleSortKey(Bridge.expression(d)))

  def md5_hash60(c: Column): Column =
    Bridge.column(Md5Hash60(Bridge.expression(c)))

  def dict_lookup(key: Column,
      table: org.apache.spark.broadcast.Broadcast[DictTable],
      dataType: DataType): Column =
    Bridge.column(DictLookup(Bridge.expression(key), table, dataType))

  /** Optional SQL registration (`SELECT cosine_sim(a, b) ...`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim",
      es => CosineSimilarity(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      es => SimHash64(es.head), "built-in")
  }
}

/** Session-extension registration of the custom codegen'd expressions:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes
  * `cosine_sim`/`dot_product`/`simhash64` available in EVERY session of the
  * application — pure-SQL users, thrift-server connections, and notebooks
  * included — without any driver code calling [[GraftFunctions.register]].
  * This is the supported Spark extension point (injectFunction), the same
  * mechanism a custom Rule/Strategy would use; the engine deliberately
  * needs no custom optimizer rules (Catalyst already covers its plans —
  * SURVEY §4), so functions are the only injection. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((FunctionIdentifier("strip_accents"),
      new ExpressionInfo(classOf[StripAccents].getName, "strip_accents"),
      (es: Seq[Expression]) => StripAccents(es.head)))
  }
}
