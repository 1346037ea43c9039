package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, BinaryExpression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §2.5 #48-50) replacing the
  * higher-order-function compositions on hot paths. HOFs don't
  * participate in whole-stage codegen and re-enter the interpreter per
  * element; these generate a single fused Java loop per row via
  * doGenCode, with an interpreted eval kept for parity/fallback.
  *
  * Hash parity: MinHashSig calls the same XxHash64Function the builtin
  * `xxhash64` uses; SimHash64Md5 and Winnow hash with Md5Impl.hash60,
  * the value of the builtin `conv(substring(md5(s), 1, 15), 16, 10)`.
  * Native and HOF pipelines produce IDENTICAL signatures (asserted in
  * NativeExprSpec).
  */
object NativeExpressions {

  private val XXF = "org.apache.spark.sql.catalyst.expressions.XxHash64Function"
  private val DTS = "org.apache.spark.sql.types.DataTypes"

  /** The repo's md5-60bit hash identity, fused: equals
    * `conv(substring(md5(s), 1, 15), 16, 10)` cast to long — the first
    * 15 hex digits of the MD5 digest are its first 60 BITS, i.e. the
    * big-endian long of bytes 0-7 shifted right 4 unsigned — WITHOUT
    * materializing the 32-char hex string, the substring copy, or
    * conv's base-16 string parse. The identity stays externally
    * replayable (any engine's md5 hex prefix parses to the same
    * value); this expression only removes the string detour on the
    * Spark side. Used on draw-heavy paths (bootstrap's B×n replicate
    * draws); NativeExprSpec asserts value-identity against the
    * built-in composition. */
  case class Md5Prefix60(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_md5_60"

    override def nullSafeEval(s: Any): Any =
      Md5Impl.hash60(s.asInstanceOf[UTF8String])

    // Generated Java must reference the TOP-LEVEL Md5Impl object —
    // nested Scala module methods (NativeExpressions.Md5Prefix60.hash)
    // have no static forwarder, so Janino fails to compile and the
    // whole stage silently falls back to interpreted mode (r9 ADVICE).
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        s => s"graft.functions.Md5Impl.hash60($s)")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  object Md5Prefix60 {
    /** First 60 bits of MD5(s) as a non-negative long. */
    def hash(s: UTF8String): Long = Md5Impl.hash60(s)
  }

  /** Cosine similarity over two numeric-array columns, one fused loop
    * (float arrays arrive via an implicit array cast). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_cosine"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xi = x.getDouble(i)
        val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val n = ctx.freshName("n")
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double x = $a.getDouble($i);
          double y = $b.getDouble($i);
          $dot += x * y; $na += x * x; $nb += y * y;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Hamming distance between two packed 64-bit signatures. */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_hamming"

    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** MinHash signature over a shingle array: one pass per row — hash
    * each shingle once, run all numHashes permutation mins in a local
    * long[] (reference semantics: Dedup.signatureDf's HOF pipeline,
    * xxhash64(xxhash64(s), i, seed), reproduced hash-for-hash). */
  case class MinHashSig(child: Expression, numHashes: Int, seed: Long)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(numHashes > 0)
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var s = 0
      val n = arr.numElements()
      while (s < n) {
        val base = XxHash64Function.hash(arr.getUTF8String(s), StringType, 42L)
        var i = 0
        while (i < numHashes) {
          val h1 = XxHash64Function.hash(base, LongType, 42L)
          val h2 = XxHash64Function.hash(i, IntegerType, h1)
          val v = XxHash64Function.hash(seed, LongType, h2)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        s += 1
      }
      // empty input → null signature elements are wrong; mirror the HOF
      // pipeline which yields nulls via array_min(empty) — emit nulls as
      // Long.MaxValue sentinel is NOT equal, so return null for empty.
      if (n == 0) null else new GenericArrayData(sig)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val sig = ctx.freshName("sig")
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        val base = ctx.freshName("base")
        val v = ctx.freshName("v")
        val n = ctx.freshName("n")
        s"""
        int $n = $a.numElements();
        if ($n == 0) { ${ev.isNull} = true; } else {
          long[] $sig = new long[$numHashes];
          java.util.Arrays.fill($sig, Long.MAX_VALUE);
          for (int $s = 0; $s < $n; $s++) {
            long $base = $XXF.hash($a.getUTF8String($s), $DTS.StringType, 42L);
            for (int $i = 0; $i < $numHashes; $i++) {
              long $v = $XXF.hash(java.lang.Long.valueOf($base), $DTS.LongType, 42L);
              $v = $XXF.hash(java.lang.Integer.valueOf($i), $DTS.IntegerType, $v);
              $v = $XXF.hash(java.lang.Long.valueOf(${seed}L), $DTS.LongType, $v);
              if ($v < $sig[$i]) $sig[$i] = $v;
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
        }
        """
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** One-pass 64-bit SimHash over a token array: each token's
    * md5-prefix 60-bit hash (Md5Impl.hash60) votes on every bit — the
    * hash an external SQL engine can reproduce (`('0x' ||
    * substring(md5(t), 1, 15))::BIGINT` in DuckDB), making the whole
    * simhash pipeline oracle-checkable. Bits 60-63 never vote positive
    * and stay 0. */
  case class SimHash64Md5(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64_md5"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var t = 0
      val n = arr.numElements()
      while (t < n) {
        val h = Md5Impl.hash60(arr.getUTF8String(t))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) != 0L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        t += 1
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
      sig
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val votes = ctx.freshName("votes")
        val t = ctx.freshName("t")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val sig = ctx.freshName("sig")
        s"""
        int[] $votes = new int[64];
        for (int $t = 0; $t < $a.numElements(); $t++) {
          long $h = graft.functions.Md5Impl.hash60($a.getUTF8String($t));
          for (int $j = 0; $j < 64; $j++) {
            if ((($h >>> $j) & 1L) != 0L) $votes[$j]++; else $votes[$j]--;
          }
        }
        long $sig = 0L;
        for (int $j = 0; $j < 64; $j++) if ($votes[$j] > 0) $sig |= (1L << $j);
        ${ev.value} = $sig;
        """
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All random-hyperplane LSH bucket keys for one vector in a single
    * fused loop: planes(t)(p) is hyperplane p of table t; output element
    * t is a long whose bit p = [v · planes(t)(p) > 0]. Replaces
    * tables × planes interpreted HOF dot products per row with one
    * codegen'd pass (plane matrix shipped as a reference object). */
  case class HyperplaneBuckets(child: Expression, planes: Array[Array[Array[Double]]])
      extends UnaryExpression with ImplicitCastInputTypes {
    require(planes.nonEmpty && planes.forall(_.nonEmpty))
    override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_lsh_buckets"

    @transient private lazy val nTables = planes.length
    @transient private lazy val nPlanes = planes(0).length

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val keys = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var key = 0L
        var p = 0
        while (p < nPlanes) {
          val plane = planes(t)(p)
          val n = math.min(v.numElements(), plane.length)
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v.getDouble(i) * plane(i); i += 1 }
          if (dot > 0) key |= (1L << p)
          p += 1
        }
        keys(t) = key
        t += 1
      }
      new GenericArrayData(keys)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][][]")
      nullSafeCodeGen(ctx, ev, a => {
        val keys = ctx.freshName("keys")
        val t = ctx.freshName("t")
        val p = ctx.freshName("p")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val key = ctx.freshName("key")
        val plane = ctx.freshName("plane")
        val n = ctx.freshName("n")
        s"""
        long[] $keys = new long[${nTables}];
        for (int $t = 0; $t < ${nTables}; $t++) {
          long $key = 0L;
          for (int $p = 0; $p < ${nPlanes}; $p++) {
            double[] $plane = $planesRef[$t][$p];
            int $n = java.lang.Math.min($a.numElements(), $plane.length);
            double $dot = 0.0;
            for (int $i = 0; $i < $n; $i++) $dot += $a.getDouble($i) * $plane[$i];
            if ($dot > 0) $key |= (1L << $p);
          }
          $keys[$t] = $key;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
        """
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All Manku multi-block candidate keys for one 64-bit simhash
    * signature in a single fused loop: the signature splits into
    * `blocks` bit-blocks; output element c is the concatenation of the
    * 4 blocks named by the c-th 4-combination (Manku WWW'07 §3 — any
    * pair within hamming radius blocks−keyBlocks agrees on ≥ keyBlocks whole blocks,
    * so it shares at least one of these keys). One expression instead
    * of a C(blocks,4)-wide projection tree, which blows past the
    * whole-stage-codegen method budget and falls back to interpreted
    * eval (measured: 8.8 s vs 1.7 s for the 330-key case at sf0.1). */
  case class SimHashBlockKeys(child: Expression, blocks: Int, keyBlocks: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(keyBlocks >= 1 && blocks >= keyBlocks && blocks <= 64)
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_simhash_block_keys"

    @transient private lazy val sizes: Array[Int] = {
      val base = 64 / blocks; val rem = 64 % blocks
      Array.tabulate(blocks)(i => if (i < rem) base + 1 else base)
    }
    @transient private lazy val offsets: Array[Int] =
      sizes.scanLeft(0)(_ + _).init
    @transient private lazy val combos: Array[Array[Int]] =
      (0 until blocks).combinations(keyBlocks).map(_.toArray).toArray

    override def nullSafeEval(input: Any): Any = {
      val sig = input.asInstanceOf[Long]
      val bl = new Array[Long](blocks)
      var i = 0
      while (i < blocks) {
        bl(i) = (sig >>> offsets(i)) & ((1L << sizes(i)) - 1L); i += 1
      }
      val keys = new Array[Long](combos.length)
      var c = 0
      while (c < combos.length) {
        val cb = combos(c)
        var k = 0L
        var j = 0
        while (j < cb.length) { k = (k << sizes(cb(j))) | bl(cb(j)); j += 1 }
        keys(c) = k
        c += 1
      }
      new GenericArrayData(keys)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val sizesRef = ctx.addReferenceObj("sizes", sizes, "int[]")
      val offsRef = ctx.addReferenceObj("offsets", offsets, "int[]")
      val combosRef = ctx.addReferenceObj("combos", combos, "int[][]")
      nullSafeCodeGen(ctx, ev, a => {
        val bl = ctx.freshName("bl")
        val keys = ctx.freshName("keys")
        val i = ctx.freshName("i")
        val c = ctx.freshName("c")
        val j = ctx.freshName("j")
        val k = ctx.freshName("k")
        val cb = ctx.freshName("cb")
        s"""
        long[] $bl = new long[${blocks}];
        for (int $i = 0; $i < ${blocks}; $i++)
          $bl[$i] = ($a >>> $offsRef[$i]) & ((1L << $sizesRef[$i]) - 1L);
        long[] $keys = new long[${combos.length}];
        for (int $c = 0; $c < ${combos.length}; $c++) {
          int[] $cb = $combosRef[$c];
          long $k = 0L;
          for (int $j = 0; $j < $cb.length; $j++)
            $k = ($k << $sizesRef[$cb[$j]]) | $bl[$cb[$j]];
          $keys[$c] = $k;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
        """
      })
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** One-pass winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash
    * all character k-grams with Md5Impl.hash60 (the md5-prefix hash the
    * HOF pipeline and the oracle replay — hash-identical, asserted in
    * NativeExprSpec), slide a window of w hashes with a monotonic deque
    * (O(n), vs the HOF's O(n·w) slice-per-window), emit the distinct
    * sorted window minima. */
  case class Winnow(child: Expression, k: Int, w: Int)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(k > 0 && w > 0)
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_winnow"

    override def nullSafeEval(input: Any): Any =
      WinnowImpl.winnow(input.asInstanceOf[UTF8String], k, w)

    // WinnowImpl is a TOP-LEVEL object: Scala emits Java static
    // forwarders for those, so Janino resolves this call. (A nested
    // object would be NativeExpressions$Winnow$.MODULE$ — referencing
    // it as a dotted path made codegen fail and silently fall back to
    // interpreted eval.)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        s"""${ev.value} = graft.functions.WinnowImpl.winnow($a, $k, $w);"""
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private[functions] def winnowBody(s: UTF8String, k: Int, w: Int): ArrayData = {
      val n = s.numChars()
      if (n < k) return new GenericArrayData(Array.empty[Long])
      val m = n - k + 1
      val h = new Array[Long](m)
      var i = 0
      while (i < m) {
        h(i) = Md5Impl.hash60(s.substringSQL(i + 1, k))
        i += 1
      }
      val mins: Array[Long] =
        if (m < w) h
        else {
          // monotonic deque of indices; head is the current window min
          val out = new Array[Long](m - w + 1)
          val dq = new Array[Int](m)
          var head = 0; var tail = 0 // [head, tail)
          var j = 0
          while (j < m) {
            while (tail > head && h(dq(tail - 1)) >= h(j)) tail -= 1
            dq(tail) = j; tail += 1
            if (dq(head) <= j - w) head += 1
            if (j >= w - 1) out(j - w + 1) = h(dq(head))
            j += 1
          }
          out
        }
      val sorted = mins.clone()
      java.util.Arrays.sort(sorted)
      var cnt = 0
      var p = 0
      while (p < sorted.length) {
        if (p == 0 || sorted(p) != sorted(p - 1)) cnt += 1
        p += 1
      }
      val dedup = new Array[Long](cnt)
      var q = 0; p = 0
      while (p < sorted.length) {
        if (p == 0 || sorted(p) != sorted(p - 1)) { dedup(q) = sorted(p); q += 1 }
        p += 1
      }
      new GenericArrayData(dedup)
  }

  /** Unicode NFC normalization (canonical composition) — the first
    * stage of any text-normalization pipeline (é as e+U+0301 and é as
    * U+00E9 must hash/dedup/tokenize identically). Spark has no
    * builtin; this wraps `java.text.Normalizer` as a codegen'd unary
    * expression so it stays inside whole-stage codegen instead of
    * forcing a Scala UDF (serialization + interpreter exit) into the
    * hot normalization pass. ASCII fast path: `Normalizer.isNormalized`
    * is O(n) with no allocation, so the common all-ASCII corpus row
    * pays one scan and returns the input buffer unchanged. */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc"

    override def nullSafeEval(a: Any): Any =
      NfcImpl.nfc(a.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.NfcImpl.nfc($a);")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Word n-grams in one pass: whitespace-tokenize (the \s+ split +
    * non-empty filter TextAnalysis.tokens applies) and emit every
    * consecutive n-token window joined by a single space — the shingle
    * construction of the dedup family. The HOF formulation
    * (split → filter → sequence → transform(slice + concat_ws) →
    * array_distinct) allocates a slice array and a lambda frame per
    * gram outside whole-stage codegen; this is a single scan that
    * finds token spans once and builds each gram directly. `distinct`
    * keeps first occurrences in order — exactly array_distinct's
    * semantics — so outputs are element-identical to the HOF pipeline
    * (asserted in NativeExprSpec). Fewer than n tokens → empty array
    * (the HOF's `when(size >= n, ...)` guard). */
  case class WordNGrams(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression with ImplicitCastInputTypes {
    require(n > 0)
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_ngrams"

    override def nullSafeEval(a: Any): Any =
      NGramsImpl.ngrams(a.asInstanceOf[UTF8String], n, distinct)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = graft.functions.NGramsImpl.ngrams($a, $n, $distinct);")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Z-order (Morton) interleave of the low `bits` of two longs: x-bit
    * b lands at 2b, y-bit b at 2b+1 — the multi-dimensional clustering
    * key (SURVEY §2 row 144). Branchless magic-mask bit spreading
    * (5 shift-mask steps for up to 32 bits/dim) instead of a per-bit
    * loop; codegen emits one static call, ~3 ns/row. */
  case class ZOrder(left: Expression, right: Expression, bits: Int)
      extends BinaryExpression with ImplicitCastInputTypes {
    require(bits > 0 && bits <= 32, "bits must be in 1..32")
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_zorder"

    override def nullSafeEval(a: Any, b: Any): Any =
      ZOrderImpl.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.ZOrderImpl.interleave($a, $b, $bits)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  // ----------------------------------------------------------- Column API

  private def e(c: Column): Expression = GraftBridge.expression(c)

  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSim(e(a), e(b)))

  /** Fused md5-60bit identity: == conv(substring(md5(s),1,15),16,10)
    * cast long, minus the hex-string detour. */
  def md5Prefix60(s: Column): Column =
    GraftBridge.column(Md5Prefix60(e(s)))

  def hamming(a: Column, b: Column): Column =
    GraftBridge.column(HammingDist(e(a), e(b)))

  def minHashSig(shingles: Column, numHashes: Int, seed: Long = 0x5EED): Column =
    GraftBridge.column(MinHashSig(e(shingles), numHashes, seed))

  def simHash64Md5(tokens: Column): Column =
    GraftBridge.column(SimHash64Md5(e(tokens)))

  def hyperplaneBuckets(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    GraftBridge.column(HyperplaneBuckets(e(vec),
      planes.map(_.map(_.toArray).toArray).toArray))

  def simHashBlockKeys(sig: Column, blocks: Int, keyBlocks: Int): Column =
    GraftBridge.column(SimHashBlockKeys(e(sig), blocks, keyBlocks))

  def winnow(text: Column, k: Int, w: Int): Column =
    GraftBridge.column(Winnow(e(text), k, w))

  def nfc(text: Column): Column =
    GraftBridge.column(NfcNormalize(e(text)))

  def wordNGrams(text: Column, n: Int, distinct: Boolean): Column =
    GraftBridge.column(WordNGrams(e(text), n, distinct))

  def zorder(x: Column, y: Column, bits: Int): Column =
    GraftBridge.column(ZOrder(e(x), e(y), bits))
}

/** Morton-interleave kernel. TOP-LEVEL object so Scala emits Java
  * static forwarders for Janino (same constraint as WinnowImpl). */
object ZOrderImpl {
  /** Spread the low 32 bits of v so bit b lands at 2b. */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(x: Long, y: Long, bits: Int): Long = {
    val mask = if (bits == 32) 0xFFFFFFFFL else (1L << bits) - 1
    spread(x & mask) | (spread(y & mask) << 1)
  }
}

/** Word-n-gram kernel. TOP-LEVEL object so Scala emits Java static
  * forwarders for Janino (same constraint as WinnowImpl/NfcImpl). */
object NGramsImpl {
  // the \s class of the HOF pipeline's split("\\s+") — ASCII-only, NOT
  // Character.isWhitespace (which adds U+001C-1F etc.)
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def ngrams(s: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val str = s.toString
    val len = str.length
    // token spans in one scan
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var m = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      if (i < len) {
        val b = i
        while (i < len && !isWs(str.charAt(i))) i += 1
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2)
          ends = java.util.Arrays.copyOf(ends, m * 2)
        }
        starts(m) = b; ends(m) = i; m += 1
      }
    }
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[UTF8String](m - n + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    val sb = new java.lang.StringBuilder
    var g = 0
    while (g <= m - n) {
      sb.setLength(0)
      var t = g
      while (t < g + n) {
        if (t > g) sb.append(' ')
        sb.append(str, starts(t), ends(t))
        t += 1
      }
      val gram = UTF8String.fromString(sb.toString)
      if (seen == null || seen.add(gram)) out.add(gram)
      g += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** NFC kernel. TOP-LEVEL object so Scala emits Java static forwarders —
  * generated code calls `graft.functions.NfcImpl.nfc(...)` as a plain
  * static method (a nested object would be a MODULE$ field reference
  * Janino can't resolve). */
object NfcImpl {
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Winnowing kernel entry point. TOP-LEVEL object so Scala emits Java
  * static forwarders — generated code calls
  * `graft.functions.WinnowImpl.winnow(...)` as a plain static method. */
object WinnowImpl {
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData =
    NativeExpressions.winnowBody(s, k, w)
}

/** md5-prefix 60-bit hash: the value of the first 15 hex chars of
  * md5(utf8-bytes), i.e. the first 8 digest bytes big-endian >>> 4.
  * Chosen because an external ANSI/DuckDB oracle can compute the same
  * value as `('0x' || substring(md5(s), 1, 15))::BIGINT`, which xxhash64
  * (Spark-only) cannot. TOP-LEVEL object for Janino static-forwarder
  * resolution from generated code. */
object Md5Impl {
  private val mdTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  def hash60(s: UTF8String): Long = {
    val md = mdTL.get()
    md.reset()
    val dig = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xFFL); i += 1 }
    v >>> 4
  }
}
